package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}

import graft.config._
import graft.core.Comparison
import graft.jobs.ComparisonJob

/** Golden-fixture parity suite: the reference's own end-to-end test data and
  * every numeric assertion it pins
  * (`/root/reference/tests/test_comparison_job.py:17-125`).
  */
class ComparisonSpec extends SparkSpec {
  import spark.implicits._

  // test_comparison_job.py:19-25 — note duplicated id=3 pair, and id=7 with
  // string mismatches plus a 0.1-off numeric.
  private lazy val source: DataFrame = Seq(
    (1L, "foo", "foo", true, 1.0),
    (3L, null, null, false, 3.0),
    (3L, null, null, false, 3.0),
    (4L, null, null, false, 4.0),
    (7L, "foo7", "foo2", false, 7.1)
  ).toDF("id", "value", "value2", "value3", "value4")

  // test_comparison_job.py:26-30
  private lazy val target: DataFrame = Seq(
    (3L, null, null, false, 3.0),
    (3L, null, null, false, 3.0),
    (7L, "foo", "foo3", false, 7.0)
  ).toDF("id", "value", "value2", "value3", "value4")

  // test_comparison_job.py:33-40
  private val params = DatasetParams(
    datasetName = "test_dataset",
    primaryKeys = Seq("id"),
    testParams = TestParams(differenceTolerance = 0.1))

  private lazy val result = Comparison.compareDataFrames(spark, source, target, params)

  test("overall report matches the reference golden values") {
    // test_comparison_job.py:86-93
    val rows = result.overallTestReport.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("dataset_name") == "test_dataset")
    val count = r.getAs[Map[String, Long]]("count")
    assert(count == Map("source" -> 5L, "target" -> 3L))
    assert(r.getAs[Long]("matched_count") == 1L)
    val dup = r.getAs[Map[String, Long]]("duplicate_count")
    assert(dup == Map("source" -> 1L, "target" -> 1L))
    val missing = r.getAs[Map[String, Long]]("missing_rows")
    assert(missing == Map("source" -> 0L, "target" -> 2L))
    assert(r.getAs[String]("test_status") == "FAILED")
  }

  test("row-level report matches the reference golden values") {
    // test_comparison_job.py:95-107
    val rows = result.rowLvlTestReport.collect()
    assert(rows.length == 4)
    val byId = rows.map(r => r.getAs[Long]("id") -> r).toMap
    // id=1 missing at target ("MISSTING" typo is canon)
    assert(byId(1L).getAs[String]("missing_row_status") == "MISSTING_AT_TARGET")
    assert(byId(1L).getAs[Boolean]("all_rows_matched") == false)
    // id=3: present in both, 2×2 cross join ⇒ duplicate_count 3, matched
    assert(byId(3L).getAs[String]("missing_row_status") == "PRESENT_IN_BOTH")
    assert(byId(3L).getAs[Long]("duplicate_count") == 3L)
    assert(byId(3L).getAs[Boolean]("all_rows_matched") == true)
    // id=4 also missing at target
    assert(byId(4L).getAs[String]("missing_row_status") == "MISSTING_AT_TARGET")
    // id=7 present but unmatched (value/value2 differ; value4 within tolerance)
    assert(byId(7L).getAs[String]("missing_row_status") == "PRESENT_IN_BOTH")
    assert(byId(7L).getAs[Boolean]("all_rows_matched") == false)
    assert(byId(7L).getAs[Long]("duplicate_count") == 0L)
  }

  test("column-level report matches the reference golden values") {
    // test_comparison_job.py:110-125 — value4 is 0 because |7.1−7.0| ≤ 0.1.
    val rows = result.colLvlTestReport.collect()
    assert(rows.length == 4)
    val byCol = rows
      .map(r => r.getAs[String]("column_name") -> r.getAs[Number]("unmatched_rows_count").longValue())
      .toMap
    assert(byCol == Map("value" -> 1L, "value2" -> 1L, "value3" -> 0L, "value4" -> 0L))
  }

  test("unmatched extracts contain exactly the offending columns with key + src/target pairs") {
    assert(result.unmatchedRecords.keySet == Set("test_dataset/value", "test_dataset/value2"))
    val v = result.unmatchedRecords("test_dataset/value").collect()
    assert(v.toSet == Set(Row(7L, "foo7", "foo")))
    val v2 = result.unmatchedRecords("test_dataset/value2").collect()
    assert(v2.toSet == Set(Row(7L, "foo2", "foo3")))
  }

  test("comparing a dataframe with itself PASSES with zero mismatches") {
    val self = Comparison.compareDataFrames(
      spark, source, source, params.copy(datasetName = "self"))
    val r = self.overallTestReport.collect().head
    assert(r.getAs[String]("test_status") == "FAILED") // dup id=3 keeps matched_count(4) < count(5)
    val noDup = source.dropDuplicates("id")
    val clean = Comparison.compareDataFrames(
      spark, noDup, noDup, params.copy(datasetName = "clean"))
    val cr = clean.overallTestReport.collect().head
    assert(cr.getAs[String]("test_status") == "PASSED")
    assert(clean.colLvlTestReport.collect().forall(_.getAs[Number]("unmatched_rows_count").longValue() == 0L))
    assert(clean.unmatchedRecords.isEmpty)
    self.unpersist(); clean.unpersist()
  }

  test("both entry points produce equivalent written reports") {
    // test_comparison_job.py:47-83 — run via DFs and via file-config, then
    // compare the round-tripped parquet reports.
    val tmp = Files.createTempDirectory("graft-cmp").toString
    source.write.mode("overwrite").parquet(s"$tmp/in/source")
    target.write.mode("overwrite").parquet(s"$tmp/in/target")
    val out = OutputConfig(outputDir = s"$tmp/out", noOfPartitions = 1)
    ComparisonJob.runComparisonJobFromDfs(
      spark, "job_dfs", source, target, params, out)
    // EP2 dict-params overload (comparison_job.py:258-262 parity)
    ComparisonJob.runComparisonJobFromDfs(
      spark, "job_dfs_map", source, target,
      Map(
        "dataset_name" -> "test_dataset",
        "primary_keys" -> Seq("id"),
        "test_params" -> Map("difference_tolerance" -> 0.1)),
      Map("output_dir" -> s"$tmp/out", "no_of_partitions" -> 1))
    ComparisonJob.runComparisonJob(spark, Map(
      "job_name" -> "job_cfg",
      "dataset_configs" -> Seq(Map(
        "params" -> Map(
          "dataset_name" -> "test_dataset",
          "primary_keys" -> Seq("id"),
          "test_params" -> Map("difference_tolerance" -> 0.1)),
        "source_config" -> Map("path" -> s"$tmp/in/source"),
        "target_config" -> Map("path" -> s"$tmp/in/target"))),
      "output_config" -> Map("output_dir" -> s"$tmp/out", "no_of_partitions" -> 1)))
    for (report <- Seq("overall_test_report", "row_lvl_test_report",
        "col_lvl_test_report", "unmatched_rows/test_dataset/value")) {
      val a = spark.read.parquet(s"$tmp/out/job_dfs/$report").collect().toSet
      val b = spark.read.parquet(s"$tmp/out/job_cfg/$report").collect().toSet
      val c = spark.read.parquet(s"$tmp/out/job_dfs_map/$report").collect().toSet
      assert(a == b, s"report $report differs between entry points")
      assert(a == c, s"report $report differs for the dict-params entry point")
    }
  }

  test("consolidation failure isolation: fail-fast by default, per-dataset capture under continue_on_error") {
    val tmp = Files.createTempDirectory("graft-coe").toString
    val good = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    good.write.mode("overwrite").parquet(s"$tmp/in/good")
    def dsCfg(name: String, path: String): Map[String, Any] = Map(
      "params" -> Map("dataset_name" -> name, "primary_keys" -> Seq("id")),
      "source_config" -> Map("path" -> path),
      "target_config" -> Map("path" -> path))
    def jobCfg(coe: Boolean, dss: Map[String, Any]*): Map[String, Any] = Map(
      "job_name" -> s"job_coe_$coe",
      "dataset_configs" -> dss.toSeq,
      "output_config" -> Map("output_dir" -> s"$tmp/out", "no_of_partitions" -> 1),
      "continue_on_error" -> coe)
    val goodDs = dsCfg("ok_a", s"$tmp/in/good")
    val badDs = dsCfg("broken", s"$tmp/in/does_not_exist")
    val goodDs2 = dsCfg("ok_b", s"$tmp/in/good")
    // default: FAIL-FAST (reference parity) — the bad dataset aborts the job
    intercept[Exception] {
      ComparisonJob.runComparisonJob(spark, jobCfg(coe = false, goodDs, badDs, goodDs2))
    }
    // continue_on_error: the bad dataset becomes ONE FAILED overall row
    // (zero counts — unambiguous, an empty dataset compares PASSED) plus
    // a captured message; row/col reports carry only the successes
    val r = ComparisonJob.runComparisonJob(spark, jobCfg(coe = true, goodDs, badDs, goodDs2))
    val overall = r.overallTestReport.collect()
      .map(row => row.getAs[String]("dataset_name") -> row.getAs[String]("test_status")).toMap
    assert(overall == Map("ok_a" -> "PASSED", "ok_b" -> "PASSED", "broken" -> "FAILED"), overall)
    val brokenRow = r.overallTestReport
      .filter(org.apache.spark.sql.functions.col("dataset_name") === "broken")
      .collect().head
    assert(brokenRow.getAs[Long]("matched_count") == 0L)
    assert(brokenRow.getAs[Map[String, Long]]("count") == Map("source" -> 0L, "target" -> 0L))
    assert(r.failures.keySet == Set("broken") && r.failures("broken").nonEmpty)
    val rowDatasets = r.rowLvlTestReport.collect().map(_.getAs[String]("dataset_name")).toSet
    val colDatasets = r.colLvlTestReport.collect().map(_.getAs[String]("dataset_name")).toSet
    assert(rowDatasets == Set("ok_a", "ok_b") && colDatasets == Set("ok_a", "ok_b"))
    // the written overall report includes the FAILED row
    val written = spark.read.parquet(s"$tmp/out/job_coe_true/overall_test_report")
      .collect().map(_.getAs[String]("dataset_name")).toSet
    assert(written == Set("ok_a", "ok_b", "broken"))
    // every dataset failing still throws — nothing to write
    val all = intercept[IllegalStateException] {
      ComparisonJob.runComparisonJob(spark, jobCfg(coe = true, badDs))
    }
    assert(all.getMessage.contains("all 1 datasets failed") && all.getCause != null)
    r.unpersist()
  }

  test("selectCols/dropCols project BEFORE comparison — excluded columns cannot fail a run") {
    // value2 and value4 disagree for id 7; once value2 is dropped and
    // value4 is never selected, only (value, value3) are compared
    val src = Seq((7L, "same", "src-only", true, 7.1)).toDF("id", "value", "value2", "value3", "value4")
    val tgt = Seq((7L, "same", "tgt-only", true, 9.9)).toDF("id", "value", "value2", "value3", "value4")
    val r = Comparison.compareDataFrames(spark, src, tgt,
      DatasetParams(
        datasetName = "projected",
        primaryKeys = Seq("id"),
        selectCols = Seq("id", "value", "value2", "value3"),
        dropCols = Seq("value2")))
    assert(r.overallTestReport.head().getAs[String]("test_status") == "PASSED")
    // the column-level report lists exactly the surviving non-key columns,
    // in post-projection schema order (the documented divergence: derive
    // AFTER select/drop — the reference crashes when select/drop removes a
    // column it derived from the pre-projection schema)
    val cols = r.colLvlTestReport.collect().map(_.getAs[String]("column_name")).toSeq
    assert(cols == Seq("value", "value3"), s"unexpected compared columns: $cols")
    // and a mismatch in a SURVIVING column still fails
    val r2 = Comparison.compareDataFrames(spark, src, tgt,
      DatasetParams(datasetName = "projected2", primaryKeys = Seq("id"),
        selectCols = Seq("id", "value", "value4")))
    assert(r2.overallTestReport.head().getAs[String]("test_status") == "FAILED")
  }

  test("profile reports per-column nulls and exact distincts in one job") {
    val p = graft.core.Profiling.profile(spark, source)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 5 source rows; value has 3 nulls and 2 distinct non-null values
    // ("foo", "foo7"); id has 4 distinct (3 is duplicated)
    assert(p("id") == ((5L, 0L, 4L)))
    assert(p("value") == ((5L, 3L, 2L)))
    assert(p("value4") == ((5L, 0L, 4L))) // 1.0, 3.0×2, 4.0, 7.1
    assert(p.keySet == source.columns.toSet)
  }

  test("unpersist releases every engine-persisted frame (no storage leak in shared sessions)") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val r = Comparison.compareDataFrames(spark, source, target, params)
    r.overallTestReport.collect() // materialize the persisted intermediates
    assert(!cm.isEmpty, "engine should register persisted frames in the cache manager")
    r.unpersist()
    assert(cm.isEmpty, "ComparisonResult.unpersist must empty the cache manager")
    // the memoized catalog cache releases the same way (bench calls this
    // between warmup and measurement; long-lived sessions would leak blocks
    // otherwise)
    Queries.queries("q_compare_row_lvl")(spark, "/root/testdata/sf0.001").count()
    assert(!cm.isEmpty)
    Queries.clearComparisonCache()
    assert(cm.isEmpty, "clearComparisonCache must release the memoized runs' frames")
  }

  test("histogram clamps far-out-of-range values into the edge bins (no int overflow)") {
    import spark.implicits._
    // 1.7e18 / width overflows Int if clamped after the cast: ANSI mode
    // would kill the query with CAST_OVERFLOW instead of edge-binning.
    val df = Seq(-1.0e18, -5.0, 0.5, 3.4, 9.9, 1.7e18).toDF("v")
    val got = graft.core.Profiling.histogram(df, "v", nBins = 10, lo = 0.0, hi = 10.0)
      .collect().map(r => r.getAs[Int]("bin_no") -> r.getAs[Long]("n_rows")).toMap
    assert(got == Map(0 -> 3L, 3 -> 1L, 9 -> 2L),
      s"low outliers clamp to bin 0, high outliers to bin nBins-1; got $got")
  }

  test("histogram drops NaN and NULL — neither clamps into bin 0") {
    import spark.implicits._
    val df = Seq(Some(0.5), Some(Double.NaN), None, Some(9.9)).toDF("v")
    val got = graft.core.Profiling.histogram(df, "v", nBins = 10, lo = 0.0, hi = 10.0)
      .collect().map(r => r.getAs[Int]("bin_no") -> r.getAs[Long]("n_rows")).toMap
    assert(got == Map(0 -> 1L, 9 -> 1L),
      s"NaN/NULL must be dropped, not counted in an edge bin; got $got")
  }

  test("normalize_row_keys consolidates datasets with DIFFERENT primary-key schemas") {
    // dataset A keyed on `id`, dataset B keyed on (`ord_id`, `line_no`) —
    // the shape the reference's positional union cannot consolidate
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((10L, 1L, "p"), (10L, 2L, "q")).toDF("ord_id", "line_no", "v")
    val ra = Comparison.compareDataFrames(spark, a, a,
      DatasetParams("ds_a", Seq("id")))
    val rb = Comparison.compareDataFrames(spark, b, b,
      DatasetParams("ds_b", Seq("ord_id", "line_no")))
    // default path: reference parity — the union fails on schema mismatch
    intercept[org.apache.spark.sql.AnalysisException] {
      ComparisonJob.consolidate(Seq(ra, rb)).rowLvlTestReport.collect()
    }
    // flag on: one normalized schema, every dataset's rows present
    val merged = ComparisonJob.consolidate(Seq(ra, rb), normalizeRowKeys = true)
    val rows = merged.rowLvlTestReport
      .select("dataset_name", "key_json", "missing_row_status")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      ("ds_a", """{"id":1}""", "PRESENT_IN_BOTH"),
      ("ds_a", """{"id":2}""", "PRESENT_IN_BOTH"),
      ("ds_b", """{"ord_id":10,"line_no":1}""", "PRESENT_IN_BOTH"),
      ("ds_b", """{"ord_id":10,"line_no":2}""", "PRESENT_IN_BOTH")), rows.toString)
    // overall/col-level reports were schema-stable already and still union
    assert(merged.overallTestReport.count() == 2L)
    ra.unpersist(); rb.unpersist()
  }

  test("driftReport: identical sides have zero delta; a shifted side shows exact ppm drift") {
    import spark.implicits._
    val base = Seq(1.0, 1.0, 3.0, 5.0).toDF("v") // bins 0,0,1,2 of width 2
    val same = graft.core.Profiling.driftReport(base, base, "v", nBins = 5, lo = 0.0, hi = 10.0)
      .collect()
    assert(same.forall(_.getAs[Long]("delta_ppm") == 0L))
    val cur = Seq(1.0, 3.0, 3.0, 9.0).toDF("v") // bins 0,1,1,4
    val got = graft.core.Profiling.driftReport(base, cur, "v", nBins = 5, lo = 0.0, hi = 10.0)
      .collect().map(r => r.getAs[Int]("bin_no") ->
        (r.getAs[Long]("n_base"), r.getAs[Long]("n_cur"), r.getAs[Long]("delta_ppm"))).toMap
    assert(got == Map(
      0 -> (2L, 1L, -250000L), // 500000 → 250000 ppm
      1 -> (1L, 2L, 250000L),
      2 -> (1L, 0L, -250000L), // bin only in base: full-outer keeps it
      4 -> (0L, 1L, 250000L)), // bin only in cur
      s"got $got")
    // an empty side degrades to NULL proportions, never a div-0 error
    val empty = graft.core.Profiling.driftReport(
      base.filter(org.apache.spark.sql.functions.col("v") < 0),
      base, "v", nBins = 5, lo = 0.0, hi = 10.0)
    assert(empty.collect().forall(r => r.isNullAt(r.fieldIndex("p_base_ppm"))))
  }

  test("approxProfile matches exact counts within HLL tolerance") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val exact = graft.core.Profiling.profile(spark, li)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val approx = graft.core.Profiling.approxProfile(spark, li, rsd = 0.02)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(approx.keySet == exact.keySet)
    for ((c, (n, nulls, dist)) <- exact) {
      val (an, anulls, adist) = approx(c)
      // row and null counts are NOT approximated — must be identical
      assert(an == n && anulls == nulls, s"$c: exact fields diverged")
      // HLL++ distinct within 5×rsd of truth (generous: rsd is a std-dev)
      assert(math.abs(adist - dist) <= math.max(1L, math.round(dist * 0.10)),
        s"$c: approx distinct $adist too far from exact $dist")
    }
  }

  test("sources round-trip csv and json with options (S1/S3 across formats)") {
    import graft.sources.IoUtils
    import graft.config.{DataframeConfig, OutputConfig}
    val tmp = Files.createTempDirectory("graft-fmt").toString
    val df = source.dropDuplicates("id").select("id", "value", "value4")
    for ((fmt, wOpts, rOpts) <- Seq(
        ("csv", Map("header" -> "true"), Map("header" -> "true", "inferSchema" -> "true")),
        ("json", Map.empty[String, String], Map.empty[String, String]),
        ("orc", Map.empty[String, String], Map.empty[String, String]))) {
      IoUtils.writeResult(df, s"$tmp/$fmt",
        OutputConfig(outputDir = tmp, outputFileFormat = fmt, sparkOptions = wOpts, noOfPartitions = 1))
      val back = IoUtils.readDataframe(spark,
        DataframeConfig(path = s"$tmp/$fmt", fileFormat = fmt, sparkOptions = rOpts))
      val a = df.collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSet
      // inferSchema may narrow id to int — normalize before comparing
      import org.apache.spark.sql.functions.col
      val b = back.select(
          col("id").cast("long"), col("value").cast("string"), col("value4").cast("double"))
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSet
      assert(a == b, s"$fmt round-trip lost data")
    }
  }

  test("nested-type canonicalization makes array and struct columns comparable") {
    import org.apache.spark.sql.functions.{col, struct}
    // arrays: concat_ws coerces them even without the flag (Spark 4);
    // canonicalization must agree on the verdicts
    val srcA = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f))).toDF("id", "emb")
    val tgtA = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 5.0f))).toDF("id", "emb")
    val canonA = Comparison.compareDataFrames(spark, srcA, tgtA,
      DatasetParams("canon_arr", Seq("id"), TestParams(canonicalizeNestedTypes = true)))
    val byId = canonA.rowLvlTestReport.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("all_rows_matched")).toMap
    assert(byId == Map(1L -> true, 2L -> false))
    // structs: the reference's concat_ws checksum REJECTED them without the
    // flag (AnalysisException — concat_ws takes no structs); the checksum
    // hashes nested values through the NestedChecksum kernel and the
    // per-column predicate's null-safe equality is struct-valid, so a
    // no-flag struct compare WORKS, comparing structurally instead of
    // crashing
    val srcS = Seq((1L, ("x", 1.0)), (2L, ("y", 3.0))).toDF("id", "payload")
      .select(col("id"), struct(col("payload._1").as("a"), col("payload._2").as("b")).as("payload"))
    val tgtS = Seq((1L, ("x", 2.0)), (2L, ("y", 3.0))).toDF("id", "payload")
      .select(col("id"), struct(col("payload._1").as("a"), col("payload._2").as("b")).as("payload"))
    val plainS = Comparison.compareDataFrames(spark, srcS, tgtS,
      DatasetParams("plain_struct", Seq("id")))
    val plainById = plainS.rowLvlTestReport.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("all_rows_matched")).toMap
    assert(plainById == Map(1L -> false, 2L -> true),
      s"structural no-flag struct compare must mismatch only id=1: $plainById")
    val canonS = Comparison.compareDataFrames(spark, srcS, tgtS,
      DatasetParams("canon_struct", Seq("id"), TestParams(canonicalizeNestedTypes = true)))
    val canonById = canonS.rowLvlTestReport.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("all_rows_matched")).toMap
    assert(canonById == Map(1L -> false, 2L -> true))
    canonA.unpersist(); plainS.unpersist(); canonS.unpersist()
  }

  test("map columns compare without the canonicalization flag (auto to_json routing)") {
    import org.apache.spark.sql.functions.{col, map_from_arrays, lit}
    // Spark 4 can neither xxhash64 nor <=> a map — without the auto-routing
    // this compare throws AnalysisException at plan time.
    def side(v2: Int) = Seq((1L, Seq("a" -> 1), 9L), (2L, Seq("b" -> v2), 9L))
      .toDF("id", "kv", "x")
      .select(col("id"),
        map_from_arrays(
          col("kv").getField("_1"), col("kv").getField("_2")).as("kv"),
        col("x"))
    val res = Comparison.compareDataFrames(spark, side(2), side(3),
      DatasetParams("map_col", Seq("id")))
    val byId = res.rowLvlTestReport.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("all_rows_matched")).toMap
    assert(byId == Map(1L -> true, 2L -> false), s"map compare verdicts: $byId")
    val colLvl = res.colLvlTestReport.collect()
      .map(r => r.getAs[String]("column_name") -> r.getAs[Long]("unmatched_rows_count")).toMap
    assert(colLvl("kv") == 1L && colLvl("x") == 0L, s"map col-level sums: $colLvl")
    // the extract over the map column must MATERIALIZE (maps are banned
    // from distinct(); the extract JSON-renders them) and name the sides
    val ex = res.unmatchedRecords("map_col/kv")
    val exRows = ex.collect()
    assert(exRows.length == 1 && ex.columns.toSeq == Seq("id", "kv_src", "kv_target"))
    assert(exRows.head.getAs[String]("kv_src").contains("\"b\":2"))
    // struct WRAPPING a map routes through to_json too (native struct
    // equality would still hit the nested map ban)
    def wrapped(v: Int) = side(v).select(col("id"), org.apache.spark.sql.functions.struct(
      col("kv").as("m"), lit(1).as("t")).as("payload"))
    val res2 = Comparison.compareDataFrames(spark, wrapped(2), wrapped(2),
      DatasetParams("map_in_struct", Seq("id")))
    assert(res2.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED")
    res.unpersist(); res2.unpersist()
  }

  test("NULL vs empty containers checksum-mismatch") {
    import org.apache.spark.sql.functions.{col, struct, lit, when}
    // NULL array vs empty array: Spark's hash contributes nothing for
    // either, so a native hash would silently report these rows matched
    // while the per-column null-safe predicate calls them different.
    val srcA = Seq((1L, Some(Seq(1, 2)), "k"), (2L, None, "k"), (3L, None, "k"))
      .toDF("id", "arr", "pad")
    val tgtA = Seq((1L, Some(Seq(1, 2)), "k"), (2L, Some(Seq.empty[Int]), "k"),
      (3L, None, "k")).toDF("id", "arr", "pad")
    val resA = Comparison.compareDataFrames(spark, srcA, tgtA,
      DatasetParams("null_vs_empty_arr", Seq("id")))
    val byIdA = resA.rowLvlTestReport.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("all_rows_matched")).toMap
    assert(byIdA == Map(1L -> true, 2L -> false, 3L -> true),
      s"NULL-vs-empty array must mismatch only id=2: $byIdA")
    // NULL struct vs all-NULL-fields struct: the same hash blindness
    def structSide(nullWhole: Boolean) = Seq((1L, "x")).toDF("id", "v").select(
      col("id"),
      when(lit(!nullWhole),
        struct(lit(null).cast("string").as("a"), lit(null).cast("int").as("b"))).as("payload"))
    val resS = Comparison.compareDataFrames(
      spark, structSide(nullWhole = true), structSide(nullWhole = false),
      DatasetParams("null_vs_allnull_struct", Seq("id")))
    assert(!resS.rowLvlTestReport.collect().head.getAs[Boolean]("all_rows_matched"),
      "NULL struct vs all-NULL-fields struct must mismatch")
    resA.unpersist(); resS.unpersist()
  }

  test("default path: a value shifting across a NULL struct field, and [NULL] vs [], FAIL") {
    import org.apache.spark.sql.functions.{col, struct}
    // Spark's own hash skips NULL fields and elements inside a container,
    // so it would checksum-match these pairs and PASS them without the
    // per-column predicate ever seeing them; the kernel marks every NULL
    // slot
    val src = Seq((1L, Option("x"), Option.empty[String], Seq(Option.empty[String])),
      (2L, Some("y"), Some("z"), Seq(Some("p"))))
      .toDF("id", "a", "b", "arr")
      .select(col("id"), struct(col("a"), col("b")).as("st"), col("arr"))
    val tgt = Seq((1L, Option.empty[String], Option("x"), Seq.empty[Option[String]]),
      (2L, Some("y"), Some("z"), Seq(Some("p"))))
      .toDF("id", "a", "b", "arr")
      .select(col("id"), struct(col("a"), col("b")).as("st"), col("arr"))
    val res = Comparison.compareDataFrames(spark, src, tgt, DatasetParams("null_shift", Seq("id")))
    try {
      val o = res.overallTestReport.collect().head
      assert(o.getAs[String]("test_status") == "FAILED" && o.getAs[Long]("matched_count") == 1L)
      val byId = res.rowLvlTestReport.collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("all_rows_matched")).toMap
      assert(byId == Map(1L -> false, 2L -> true), s"only id=1 may mismatch: $byId")
      val colLvl = res.colLvlTestReport.collect()
        .map(r => r.getAs[String]("column_name") -> r.getAs[Long]("unmatched_rows_count")).toMap
      assert(colLvl == Map("st" -> 1L, "arr" -> 1L), s"both columns must be blamed: $colLvl")
    } finally res.unpersist()
  }

  test("map and flagged struct columns tell timestamps under 1 ms apart apart") {
    import org.apache.spark.sql.functions.{col, expr, map, lit, struct}
    // 500 µs apart: the JSON text renders both as the same millisecond,
    // the kernel that decides these predicates keeps the microseconds
    def side(ts: String) = Seq((1L, "k")).toDF("id", "pad").select(
      col("id"),
      map(lit("t"), expr(s"timestamp'$ts'")).as("m"),
      struct(expr(s"timestamp'$ts'").as("t")).as("st"))
    val (src, tgt) = (side("2024-01-01 00:00:00.123456"), side("2024-01-01 00:00:00.123956"))
    val runs = Seq(
      "map" -> (src.select("id", "m"), tgt.select("id", "m"), TestParams()),
      "flagged struct" -> (src.select("id", "st"), tgt.select("id", "st"),
        TestParams(canonicalizeNestedTypes = true)))
    for ((label, (s, t, tp)) <- runs) {
      val res = Comparison.compareDataFrames(spark, s, t, DatasetParams("ts_sub_ms", Seq("id"), tp))
      try {
        val o = res.overallTestReport.collect().head
        assert(o.getAs[String]("test_status") == "FAILED" && o.getAs[Long]("matched_count") == 0L,
          s"$label: ${o.mkString(", ")}")
        assert(res.colLvlTestReport.collect().map(_.getAs[Long]("unmatched_rows_count")).toSeq ==
          Seq(1L), label)
      } finally res.unpersist()
    }
  }

  test("native JSON-route checksum classifies exactly like the canonical JSON text (r16)") {
    import org.apache.spark.sql.functions.{col, struct, lit, map, expr}
    // r16 replaced the JSON-routed columns' ROW CHECKSUM (to_json string
    // per row) with a native wrapped-hash form; these are the corners
    // where a naive native hash would diverge from the JSON text — each
    // must classify exactly as the canonical JSON semantics dictate.
    // 1) [null] vs [] under the flag: JSON renders "[null]" vs "[]" —
    //    must UNMATCH (Spark's raw hash sees both as nothing).
    val srcA = Seq((1L, Some(Seq[Option[Int]](None)), "k"), (2L, Some(Seq(Some(1))), "k"))
      .toDF("id", "arr", "pad")
    val tgtA = Seq((1L, Some(Seq.empty[Option[Int]]), "k"), (2L, Some(Seq(Some(1))), "k"))
      .toDF("id", "arr", "pad")
    val resA = Comparison.compareDataFrames(spark, srcA, tgtA,
      DatasetParams("json_chk_nullelem", Seq("id"), TestParams(canonicalizeNestedTypes = true)))
    val byIdA = resA.rowLvlTestReport.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("all_rows_matched")).toMap
    assert(byIdA == Map(1L -> false, 2L -> true),
      s"[null] vs [] must mismatch under the JSON route: $byIdA")
    // 2) a value shifting across a NULL element: ["x", null] vs [null, "x"]
    //    — must UNMATCH.
    val srcB = Seq((1L, Seq(Option("x"), None), "k")).toDF("id", "arr", "pad")
    val tgtB = Seq((1L, Seq(None, Option("x")), "k")).toDF("id", "arr", "pad")
    val resB = Comparison.compareDataFrames(spark, srcB, tgtB,
      DatasetParams("json_chk_shift", Seq("id"), TestParams(canonicalizeNestedTypes = true)))
    assert(!resB.rowLvlTestReport.collect().head.getAs[Boolean]("all_rows_matched"),
      "a value shifting across a NULL element must mismatch under the JSON route")
    // 3) -0.0 vs 0.0 inside a struct: the JSON text keeps the sign while
    //    Spark's hash and <=> normalize it — must UNMATCH.
    def zeroSide(v: String) = Seq((1L, "k")).toDF("id", "pad")
      .select(col("id"), struct(expr(v).as("d")).as("payload"), col("pad"))
    val resC = Comparison.compareDataFrames(
      spark, zeroSide("cast('-0.0' as double)"), zeroSide("cast('0.0' as double)"),
      DatasetParams("json_chk_negzero", Seq("id"), TestParams(canonicalizeNestedTypes = true)))
    assert(!resC.rowLvlTestReport.collect().head.getAs[Boolean]("all_rows_matched"),
      "-0.0 vs 0.0 must mismatch under the JSON route (the text keeps the sign)")
    // 4) deep nesting — a map inside a struct inside an array, built in
    //    OPPOSITE entry order with identical content: must checksum-MATCH
    //    end to end, taking the clean fast path (no refetch frames), which
    //    proves the native form is deterministic and order-canonical.
    def deepSide(swap: Boolean) = Seq((1L, "k")).toDF("id", "pad").select(
      col("id"),
      org.apache.spark.sql.functions.array(struct(
        (if (swap) map(lit("b"), lit(2), lit("a"), lit(1))
         else map(lit("a"), lit(1), lit("b"), lit(2))).as("m"),
        lit("t").as("tag"))).as("payload"),
      col("pad"))
    val resD = Comparison.compareDataFrames(
      spark, deepSide(swap = false), deepSide(swap = true),
      DatasetParams("json_chk_deep", Seq("id"), TestParams(canonicalizeNestedTypes = true)))
    assert(resD.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED",
      "key-order-swapped deep nesting must checksum-match (order-canonical native form)")
    assert(resD.unmatchedRecords.isEmpty)
    assertNoRefetch(resD, "an order-swapped equal compare must keep the clean fast path (no refetch)")
    resA.unpersist(); resB.unpersist(); resC.unpersist(); resD.unpersist()
  }

  test("legacyDecimalComparison reproduces the reference's DecimalType(10,0)-only numeric set") {
    import org.apache.spark.sql.functions._
    val src = Seq((1L, "1.00")).toDF("id", "d")
      .select(col("id"), col("d").cast("decimal(10,2)").as("d"))
    val tgt = Seq((1L, "1.05")).toDF("id", "d")
      .select(col("id"), col("d").cast("decimal(10,2)").as("d"))
    val params = DatasetParams("dec", Seq("id"), TestParams(differenceTolerance = 0.1))
    // idiomatic default: decimal(10,2) is numeric → |1.00−1.05| ≤ 0.1 matches
    val idiomatic = Comparison.compareDataFrames(spark, src, tgt, params)
    assert(idiomatic.rowLvlTestReport.collect().head.getAs[Boolean]("all_rows_matched"))
    // legacy: decimal(10,2) ≠ DecimalType(10,0) → exact compare → mismatch
    val legacy = Comparison.compareDataFrames(spark, src, tgt,
      params.copy(testParams = TestParams(0.1, legacyDecimalComparison = true)))
    assert(!legacy.rowLvlTestReport.collect().head.getAs[Boolean]("all_rows_matched"))
    idiomatic.unpersist(); legacy.unpersist()
  }

  test("clean compare takes the fast path: refetch frames never built, reports PASSED") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, null, 3.0)).toDF("id", "v", "x")
    val res = Comparison.compareDataFrames(spark, df, df, DatasetParams("clean", Seq("id")))
    val o = res.overallTestReport.collect().head
    assert(o.getAs[String]("test_status") == "PASSED")
    assert(o.getAs[Long]("matched_count") == 3L)
    // the mismatch-refetch phase is SKIPPED structurally: no refetch frame
    // is persisted (a mismatching compare persists its tolerance frame),
    // and no extracts exist
    assertNoRefetch(res, "clean compare must not build phase-2 frames")
    assert(res.unmatchedRecords.isEmpty)
    assert(res.colLvlTestReport.collect().forall(_.getAs[Long]("unmatched_rows_count") == 0L))
    val dirty = Comparison.compareDataFrames(spark, df,
      df.withColumn("v", when(col("id") === 2L, lit("Z")).otherwise(col("v"))),
      DatasetParams("dirty", Seq("id")))
    assert(refetchFrames(dirty).nonEmpty, "mismatching compare persists the phase-2 frames")
    res.unpersist(); dirty.unpersist()
  }

  test("irreconcilable column types fail loudly upfront; numeric width mixes stay legal") {
    import org.apache.spark.sql.functions.col
    val src = Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "n", "s")
    // string-vs-bigint on a non-key column: must be an upfront
    // IllegalArgumentException naming the column and both types, never an
    // executor-deep ANSI CAST_INVALID_INPUT (the 50-dataset consolidation
    // bench died mid-stage on exactly this before the guard)
    val badTgt = src.withColumn("s", col("id"))
    val e = intercept[IllegalArgumentException] {
      Comparison.compareDataFrames(spark, src, badTgt, DatasetParams("bad", Seq("id")))
    }
    assert(e.getMessage.contains("'s'") && e.getMessage.contains("string") &&
      e.getMessage.contains("bigint"), e.getMessage)
    // int-vs-bigint on a non-key column: legal — both sides widen to
    // bigint BEFORE hashing, so equal values checksum-match and the
    // compare keeps the clean fast path (no phase-2 frames). Unwidened,
    // xxhash64(10:int) ≠ xxhash64(10L) would mismatch EVERY key and run
    // the full-width refetch over the whole corpus.
    val wideTgt = src.withColumn("n", col("n").cast("bigint"))
    val res = Comparison.compareDataFrames(spark, src, wideTgt, DatasetParams("wide", Seq("id")))
    val o = res.overallTestReport.collect().head
    assert(o.getAs[String]("test_status") == "PASSED", o.toString)
    assertNoRefetch(res, "width-mixed equal dataset must keep the clean fast path")
    res.unpersist()
  }

  test("nullability drift never rejects; nested numeric widths widen; nested string mixes still reject") {
    import org.apache.spark.sql.functions.{array, col, lit}
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    // array<int, containsNull=false> vs array<int, containsNull=true>:
    // routine parquet/withColumn drift the null-safe compare handles fine —
    // must neither throw (the r13 guard rejected it, printing two
    // IDENTICAL type strings) nor mismatch
    val strict = Seq(1L).toDF("id").select(col("id"), array(lit(1), lit(2)).as("arr"))
    val loose = strict.select(col("id"),
      col("arr").cast(ArrayType(IntegerType, containsNull = true)).as("arr"))
    assert(!strict.schema("arr").dataType.asInstanceOf[ArrayType].containsNull &&
      loose.schema("arr").dataType.asInstanceOf[ArrayType].containsNull,
      "fixture must actually differ in containsNull")
    val resNull = Comparison.compareDataFrames(spark, strict, loose,
      DatasetParams("null_drift", Seq("id")))
    assert(resNull.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED")
    assertNoRefetch(resNull, "nullability-only drift keeps the clean fast path")
    // array<int> vs array<bigint>: the top-level numeric-width allowance
    // recurses into element types — widen, compare, clean fast path
    val wide = strict.select(col("id"), col("arr").cast("array<bigint>").as("arr"))
    val resWide = Comparison.compareDataFrames(spark, strict, wide,
      DatasetParams("nested_width", Seq("id")))
    assert(resWide.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED")
    assertNoRefetch(resWide, "nested width mix keeps the clean fast path")
    // array<int> vs array<string>: genuinely irreconcilable — upfront, loud
    val bad = strict.select(col("id"), col("arr").cast("array<string>").as("arr"))
    val e = intercept[IllegalArgumentException] {
      Comparison.compareDataFrames(spark, strict, bad, DatasetParams("nested_bad", Seq("id")))
    }
    assert(e.getMessage.contains("'arr'") && e.getMessage.contains("array<int>") &&
      e.getMessage.contains("array<string>"), e.getMessage)
    resNull.unpersist(); resWide.unpersist()
  }

  test("numeric widening corners: decimal-vs-integral widens, decimal-vs-fractional goes to double") {
    import org.apache.spark.sql.functions.col
    // decimal(10,0) vs bigint: covering decimal — equal values keep the
    // clean fast path (Spark's own coercion order, so the checksum admits
    // exactly what the tolerance subtraction would)
    val decSide = Seq((1L, "42")).toDF("id", "n")
      .select(col("id"), col("n").cast("decimal(10,0)").as("n"))
    val longSide = Seq((1L, 42L)).toDF("id", "n")
    val r1 = Comparison.compareDataFrames(spark, decSide, longSide,
      DatasetParams("dec_vs_long", Seq("id")))
    assert(r1.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED")
    assertNoRefetch(r1, "decimal-vs-integral equal values keep the clean path")
    // decimal(12,2) vs double: double (decimal precision cannot absorb a
    // fractional type) — equal values still clean
    val dec2 = Seq((1L, "7.25")).toDF("id", "x")
      .select(col("id"), col("x").cast("decimal(12,2)").as("x"))
    val dbl = Seq((1L, 7.25)).toDF("id", "x")
    val r2 = Comparison.compareDataFrames(spark, dec2, dbl,
      DatasetParams("dec_vs_double", Seq("id")))
    assert(r2.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED")
    assertNoRefetch(r2, "decimal-vs-double equal values keep the clean path")
    r1.unpersist(); r2.unpersist()
  }

  test("decimal widening preserves INTEGER digits when 38 total digits don't fit") {
    import org.apache.spark.sql.functions.col
    // bigint vs decimal(38,20): max-int-digits 20 + max-scale 20 = 40 > 38.
    // Keeping scale 20 (the old arithmetic) caps int digits at 18, so a
    // 19-digit bigint OVERFLOWS the upfront cast — ANSI throws in an
    // executor task, non-ANSI nulls the value and a present row silently
    // matches a NULL. Integer digits must win: common type decimal(38,18).
    // (a 19-digit value cannot even EXIST as decimal(38,20) — the overflow
    // risk is entirely on the bigint side's upfront cast)
    val big = 1234567890123456789L // 19 digits
    val longSide = Seq((1L, big), (2L, 100L)).toDF("id", "n")
    val decSide = Seq((1L, None: Option[String]), (2L, Some("100")))
      .toDF("id", "n")
      .select(col("id"), col("n").cast("decimal(38,20)").as("n"))
    // row 1: present 19-digit value vs NULL — must report UNMATCHED. The
    // old cast overflowed the bigint side to NULL first: ANSI (Spark 4
    // default) threw deep in an executor task; non-ANSI silently matched
    // NULL <=> NULL and reported the dataset PASSED.
    val r1 = Comparison.compareDataFrames(spark, longSide, decSide,
      DatasetParams("dec_overflow", Seq("id")))
    val o1 = r1.overallTestReport.collect().head
    assert(o1.getAs[String]("test_status") == "FAILED")
    assert(o1.getAs[Long]("matched_count") == 1L, o1.toString)
    val row1 = r1.rowLvlTestReport.filter(col("id") === 1L).collect().head
    assert(!row1.getAs[Boolean]("all_rows_matched"), row1.toString)
    // per-column count stays 0: value-vs-NULL under the numeric predicate
    // is NULL-poisoned and counts 0, the reference's own semantics — the
    // row-level and overall reports are where this failure surfaces
    // the documented trade: differences BELOW the retained scale (here 18)
    // round away on both sides — same lossy-coercion class as the
    // decimal-vs-double corner, never a missed integer-digit difference
    val tiny = Seq((1L, "1.00000000000000000001")).toDF("id", "n") // 10^-20
      .select(col("id"), col("n").cast("decimal(38,20)").as("n"))
    val one = Seq((1L, 1L)).toDF("id", "n")
    val r3 = Comparison.compareDataFrames(spark, one, tiny,
      DatasetParams("dec_subscale", Seq("id")))
    assert(r3.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED")
    r1.unpersist(); r3.unpersist()
  }

  test("struct-field metadata drift is normalized away — no cast, clean compare") {
    import org.apache.spark.sql.{Row => SqlRow}
    import org.apache.spark.sql.types._
    // identical structs except inner-field metadata (parquet comment /
    // annotation drift): must plan ZERO casts (reconcileTypes empty) and
    // compare clean — the metadata is invisible to null-safe equality
    def frame(withMeta: Boolean): org.apache.spark.sql.DataFrame = {
      val meta =
        if (withMeta) new MetadataBuilder().putString("comment", "drifted").build()
        else Metadata.empty
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("st", StructType(Seq(
          StructField("a", IntegerType, nullable = true, meta),
          StructField("b", StringType, nullable = true))), nullable = true)))
      spark.createDataFrame(
        java.util.List.of(SqlRow(1L, SqlRow(7, "x"))), schema)
    }
    val src = frame(withMeta = false)
    val tgt = frame(withMeta = true)
    assert(Comparison.reconcileTypes(src, tgt, DatasetParams("meta", Seq("id"))).isEmpty,
      "metadata-only drift must not inject a cast")
    val res = Comparison.compareDataFrames(spark, src, tgt, DatasetParams("meta", Seq("id")))
    assert(res.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED")
    assertNoRefetch(res, "metadata-only drift keeps the clean fast path")
    res.unpersist()
  }

  test("map equality is key-order-insensitive (entries canonicalize sorted by key)") {
    import org.apache.spark.sql.functions.{array, col, lit, map, struct}
    // the same map built in two insertion orders is SEMANTICALLY equal —
    // it must report MATCHED and keep the clean fast path (r13 rendered
    // physical entry order through to_json and called these unmatched)
    def side(sorted: Boolean) = Seq(1L).toDF("id").select(col("id"),
      (if (sorted) map(lit("a"), lit(1), lit("b"), lit(2))
       else map(lit("b"), lit(2), lit("a"), lit(1))).as("kv"))
    val res = Comparison.compareDataFrames(spark, side(sorted = true), side(sorted = false),
      DatasetParams("map_order", Seq("id")))
    assert(res.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED")
    assertNoRefetch(res, "order-only map difference must keep the clean fast path")
    // the same guarantee at depth: map inside a struct AND map as an
    // array element
    def nested(sorted: Boolean) = side(sorted).select(col("id"),
      struct(col("kv").as("m"), lit(7).as("t")).as("payload"),
      array(col("kv")).as("arr"))
    val resN = Comparison.compareDataFrames(spark, nested(sorted = true), nested(sorted = false),
      DatasetParams("map_order_nested", Seq("id")))
    assert(resN.overallTestReport.collect().head.getAs[String]("test_status") == "PASSED")
    // genuinely different maps still mismatch, and the extract renders the
    // canonical (key-sorted) JSON
    def diff(v: Int) = Seq(1L).toDF("id").select(col("id"),
      map(lit("z"), lit(9), lit("a"), lit(v)).as("kv"))
    val resD = Comparison.compareDataFrames(spark, diff(1), diff(2),
      DatasetParams("map_diff", Seq("id")))
    assert(resD.overallTestReport.collect().head.getAs[String]("test_status") == "FAILED")
    val ex = resD.unmatchedRecords("map_diff/kv").collect().head
    assert(ex.getAs[String]("kv_src").indexOf("\"a\"") <
      ex.getAs[String]("kv_src").indexOf("\"z\""),
      s"extract must render key-sorted JSON: ${ex.getAs[String]("kv_src")}")
    res.unpersist(); resN.unpersist(); resD.unpersist()
  }

  test("composite primary keys and duplicate-key cross products") {
    val src = Seq((1L, 1, "a"), (1L, 2, "b"), (2L, 1, "c"), (2L, 1, "c"))
      .toDF("k1", "k2", "v")
    val tgt = Seq((1L, 1, "a"), (1L, 2, "X"), (2L, 1, "c"))
      .toDF("k1", "k2", "v")
    val res = Comparison.compareDataFrames(
      spark, src, tgt,
      DatasetParams("composite", Seq("k1", "k2")))
    val rows = res.rowLvlTestReport.collect()
      .map(r => (r.getAs[Long]("k1"), r.getAs[Int]("k2")) ->
        ((r.getAs[Long]("duplicate_count"), r.getAs[Boolean]("all_rows_matched"))))
      .toMap
    assert(rows((1L, 1)) == ((0L, true)))
    assert(rows((1L, 2)) == ((0L, false)))
    assert(rows((2L, 1)) == ((1L, true))) // 2×1 cross product ⇒ M·N−1 = 1
    res.unpersist()
  }

  test("bucket fingerprints: identical tables all-match; every mutation class flips only its bucket") {
    import graft.core.Fingerprint
    import org.apache.spark.sql.functions.{col, lit, when}
    val base = (1L to 500L).map(k => (k, s"v$k", s"p${k % 5}")).toDF("k", "v", "p")
    val same = Fingerprint.fingerprintDiff(base, base, Seq("k"), Seq("v", "p"), buckets = 16)
      .collect()
    assert(same.nonEmpty && same.forall(_.getAs[Boolean]("bucket_match")),
      "identical tables must match in every bucket")
    // value change, dropped key, injected duplicate: each dirties exactly
    // the mutated keys' buckets, and counts localize the drop/dup cases
    val mutated = base
      .withColumn("v", when(col("k") === 7L, lit("CHANGED")).otherwise(col("v")))
      .filter(col("k") =!= 123L)
      .union(base.filter(col("k") === 200L))
    val diff = Fingerprint.fingerprintDiff(base, mutated, Seq("k"), Seq("v", "p"), buckets = 16)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("src_rows"), r.getAs[Long]("tgt_rows"), r.getAs[Boolean]("bucket_match"))))
      .toMap
    val bad = diff.collect { case (b, (_, _, false)) => b }.toSet
    assert(bad.size <= 3 && bad.nonEmpty, s"at most one bucket per mutated key: $diff")
    val dropBuckets = diff.collect { case (b, (s, t, _)) if s == t + 1 => b }
    val dupBuckets = diff.collect { case (b, (s, t, _)) if t == s + 1 => b }
    assert(dropBuckets.size == 1 && dupBuckets.size == 1,
      s"count deltas must localize the dropped and duplicated keys: $diff")
    // a value-only change leaves counts equal but the fingerprint differs
    assert(diff.exists { case (_, (s, t, m)) => s == t && !m },
      s"the value mutation must flip a count-equal bucket: $diff")
  }

  test("bucket fingerprints: NULL-position swaps are NOT false negatives") {
    import graft.core.Fingerprint
    // (k,'b',NULL) vs (k,NULL,'b') — identical under a bare concat_ws hash,
    // which would report bucket_match=true and the row-level engine would
    // never re-check the slice; the isnull-tagged encoding must flip it
    val src = Seq((1L, Option("b"), Option.empty[String]),
                  (2L, Option("x"), Option("y"))).toDF("k", "v", "p")
    val tgt = Seq((1L, Option.empty[String], Option("b")),
                  (2L, Option("x"), Option("y"))).toDF("k", "v", "p")
    val diff = Fingerprint.fingerprintDiff(src, tgt, Seq("k"), Seq("v", "p"), buckets = 4)
      .collect()
    assert(diff.exists(!_.getAs[Boolean]("bucket_match")),
      "swapping which column is NULL must dirty the key's bucket")
    // and NULL vs empty-string is distinguished too
    val src2 = Seq((1L, Option(""))).toDF("k", "v")
    val tgt2 = Seq((1L, Option.empty[String])).toDF("k", "v")
    val d2 = Fingerprint.fingerprintDiff(src2, tgt2, Seq("k"), Seq("v"), buckets = 2).collect()
    assert(d2.exists(!_.getAs[Boolean]("bucket_match")),
      "NULL and '' must fingerprint differently")
  }

  test("randomized perturbation property: reports match a naive driver-side model (seeded)") {
    // The golden fixture pins ONE scenario; this pins the count semantics
    // on a seeded random corpus against an independent collections-based
    // model of the documented rules (keys-with-any-matching-pair matched
    // count, keys-missing-per-side, keys-with->1-row duplicate counts,
    // per-column sums over unmatched cross-join pairs).
    case class R(id: Long, a: String, b: Long, c: String)
    val rnd = new scala.util.Random(20260813L)
    val base = (1L to 120L).map(k =>
      R(k, s"a${rnd.nextInt(1000)}", rnd.nextLong() % 100000L, s"c${rnd.nextInt(1000)}"))
    // disjoint perturbation ranges so every effect is independently visible
    val srcRows = base ++ base.filter(r => r.id >= 41 && r.id <= 45) // src dups ×2
    val tgtBase = base.filter(_.id > 10).map { r => // 1..10 missing at target
      if (r.id <= 25) r.copy(a = r.a + "_x") // 11..25: a differs
      else if (r.id <= 35) r.copy(b = r.b + 1000000L) // 26..35: b differs
      else if (r.id <= 40) r.copy(a = r.a + "_y", c = r.c + "_y") // 36..40: a AND c
      else r
    }
    val tgtRows = tgtBase ++
      tgtBase.filter(r => r.id >= 46 && r.id <= 50) ++ // tgt dups ×3
      tgtBase.filter(r => r.id >= 46 && r.id <= 50) ++
      (201L to 206L).map(k => R(k, "new", k, "new")) // missing at source
    // naive model over the raw rows
    val srcBy = srcRows.groupBy(_.id); val tgtBy = tgtRows.groupBy(_.id)
    val allKeys = srcBy.keySet ++ tgtBy.keySet
    val expMissSrc = allKeys.count(k => !srcBy.contains(k)).toLong
    val expMissTgt = allKeys.count(k => !tgtBy.contains(k)).toLong
    val expMatched = allKeys.count { k =>
      srcBy.get(k).exists(ss => tgtBy.get(k).exists(ts =>
        ss.exists(s => ts.contains(s))))
    }.toLong
    val expDups = (srcBy.count(_._2.size > 1).toLong, tgtBy.count(_._2.size > 1).toLong)
    val fields = Seq[(String, R => Any)](
      "a" -> (_.a), "b" -> (_.b), "c" -> (_.c))
    val expCol = fields.map { case (name, get) =>
      name -> allKeys.toSeq.map { k =>
        (for {
          s <- srcBy.getOrElse(k, Nil); t <- tgtBy.getOrElse(k, Nil)
          if s != t // pair unmatched (exact compare, tolerance 0)
          if get(s) != get(t)
        } yield 1L).sum
      }.sum
    }.toMap
    val res = Comparison.compareDataFrames(
      spark,
      rnd.shuffle(srcRows).map(r => (r.id, r.a, r.b, r.c)).toDF("id", "a", "b", "c"),
      rnd.shuffle(tgtRows).map(r => (r.id, r.a, r.b, r.c)).toDF("id", "a", "b", "c"),
      DatasetParams("prop", Seq("id")))
    val o = res.overallTestReport.collect().head
    assert(o.getAs[Map[String, Long]]("count") ==
      Map("source" -> srcRows.size.toLong, "target" -> tgtRows.size.toLong))
    assert(o.getAs[Long]("matched_count") == expMatched)
    assert(o.getAs[Map[String, Long]]("duplicate_count") ==
      Map("source" -> expDups._1, "target" -> expDups._2))
    assert(o.getAs[Map[String, Long]]("missing_rows") ==
      Map("source" -> expMissSrc, "target" -> expMissTgt))
    assert(o.getAs[String]("test_status") == "FAILED")
    val gotCol = res.colLvlTestReport.collect()
      .map(r => r.getAs[String]("column_name") ->
        r.getAs[Number]("unmatched_rows_count").longValue()).toMap
    assert(gotCol == expCol)
    assert(res.unmatchedRecords.keySet ==
      expCol.collect { case (c, n) if n > 0 => s"prop/$c" }.toSet)
    res.unpersist()
  }

  test("tolerance property: rescue, NULL-poisoning and column blame match the documented model") {
    // Semantics modeled independently: a row matches iff it is null-safe
    // identical OR every column predicate holds (string: null-safe eq;
    // reference-numeric: |s−t| ≤ tol, NULL-POISONED — a NULL beside a value
    // fails the row). A column is blamed on an unmatched pair only when its
    // predicate is DEFINITELY false — the NULL-vs-value pair unmatches the
    // row yet blames no column (the reference's when(!pred, true) fold).
    val tol = 0.5
    case class R(id: Long, s: String, num: Option[Double])
    val base = (1L to 60L).map(k =>
      R(k, s"s$k", if (k % 7 == 0) None else Some(k + 0.5)))
    val tgtRows = base.map { r =>
      if (r.id >= 11 && r.id <= 20) r.copy(num = r.num.map(_ + 0.25)) // within tol
      else if (r.id >= 21 && r.id <= 30) r.copy(num = r.num.map(_ + 10.0)) // outside tol
      else if (r.id >= 31 && r.id <= 35) r.copy(num = None) // NULL-poisoning
      else if (r.id >= 41 && r.id <= 45) r.copy(s = r.s + "_x") // string diff
      else r
    }
    def numPred(a: Option[Double], b: Option[Double]): Option[Boolean] = (a, b) match {
      case (Some(x), Some(y)) => Some(math.abs(x - y) <= tol)
      case _ => None // NULL-poisoned
    }
    def rowMatched(a: R, b: R): Boolean =
      (a.s == b.s && a.num == b.num) ||
        (a.s == b.s && numPred(a.num, b.num).contains(true))
    val byId = tgtRows.map(r => r.id -> r).toMap
    val expMatched = base.count(r => rowMatched(r, byId(r.id))).toLong
    val expColS = base.count(r => !rowMatched(r, byId(r.id)) && r.s != byId(r.id).s).toLong
    val expColNum = base.count { r =>
      val t = byId(r.id)
      !rowMatched(r, t) && numPred(r.num, t.num).contains(false) // definitely false only
    }.toLong
    val res = Comparison.compareDataFrames(
      spark,
      base.map(r => (r.id, r.s, r.num.map(Double.box).orNull)).toDF("id", "s", "num"),
      tgtRows.map(r => (r.id, r.s, r.num.map(Double.box).orNull)).toDF("id", "s", "num"),
      DatasetParams("tolprop", Seq("id"), TestParams(differenceTolerance = tol)))
    val o = res.overallTestReport.collect().head
    assert(o.getAs[Long]("matched_count") == expMatched)
    assert(o.getAs[String]("test_status") == "FAILED")
    val gotCol = res.colLvlTestReport.collect()
      .map(r => r.getAs[String]("column_name") ->
        r.getAs[Number]("unmatched_rows_count").longValue()).toMap
    assert(gotCol == Map("s" -> expColS, "num" -> expColNum))
    // sanity on the model itself: every scenario class is non-trivially hit
    assert(expMatched == 43L && expColS == 5L && expColNum == 8L,
      s"model degenerate: matched=$expMatched s=$expColS num=$expColNum")
    res.unpersist()
  }

  test("concurrent compares on one session equal their serial runs and leave the conf untouched") {
    // The engine writes no session conf while it compares, so concurrent
    // calls on one shared session cannot disturb each other or the caller:
    // four compares at once, each with its own tolerance, on a session
    // whose caller set the cached-layout key "true", must each report
    // exactly what the same call reports alone, and the caller's conf map
    // must read back identical.
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // a drifted pair: key 3 duplicated on both sides, 1 missing at target,
    // 8 missing at source, a string mismatch on 5, numeric drifts of 0.05
    // to 0.35 that each tolerance rescues differently
    val src = s.createDataFrame(Seq(
      (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (3L, "c", 3.0),
      (4L, "d", 4.0), (5L, "e", 5.0), (6L, "f", 6.0))).toDF("id", "s", "num")
    val tgt = s.createDataFrame(Seq(
      (2L, "b", 2.15), (3L, "c", 3.0), (3L, "c", 3.0), (4L, "d", 4.35),
      (5L, "x", 5.0), (6L, "f", 6.05), (8L, "h", 8.0))).toDF("id", "s", "num")
    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def reports(tol: Double): Seq[Seq[String]] = {
      val r = Comparison.compareDataFrames(s, src, tgt,
        DatasetParams("drift", Seq("id"), TestParams(differenceTolerance = tol)))
      val out = Seq(sorted(r.overallTestReport), sorted(r.rowLvlTestReport),
        sorted(r.colLvlTestReport)) ++
        r.unmatchedRecords.toSeq.sortBy(_._1).map { case (c, df) => c +: sorted(df) }
      r.unpersist()
      out
    }
    val tolerances = Seq(0.0, 0.1, 0.2, 0.4)
    val before = s.conf.getAll
    val serial = tolerances.map(reports)
    assert(serial.distinct.size == tolerances.size, "each tolerance must report differently")
    val concurrent = graft.core.Par.runAll(tolerances.map(tol => () => reports(tol)))
    assert(s.conf.getAll == before, "a compare changed the caller's session conf")
    tolerances.indices.foreach { i =>
      assert(concurrent(i) == serial(i), s"tolerance ${tolerances(i)}: concurrent != serial")
    }
  }
}
