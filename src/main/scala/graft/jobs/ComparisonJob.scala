package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Constants._
import graft.SessionConf
import graft.config._
import graft.core.{Comparison, ComparisonResult}
import graft.sources.IoUtils

/** Public entry points, mirroring the reference
  * (`comparison_job.py:163-184, 258-292`):
  *
  *  - [[runComparisonJob]] — config-driven: read each dataset's source and
  *    target, compare, positional-union the per-dataset reports in
  *    dataset-name order, merge the extract maps, write everything under
  *    `output_dir/job_name/<report>` (EP1);
  *  - [[runComparisonJobFromDfs]] — caller-supplied DataFrames (EP2).
  *
  * Multi-dataset consolidation assumes compatible report schemas across
  * datasets (identical primary-key column names) — the union fails
  * otherwise, the reference's own failure mode (SURVEY §2.10.10). The
  * opt-in `normalize_row_keys` flag removes that edge: each dataset's key
  * columns collapse into one `key_json` string column
  * ([[normalizeRowReport]]) so any mix of key schemas consolidates; the
  * default stays reference-faithful.
  */
object ComparisonJob {

  private val RowReportFixedCols =
    Seq(DatasetNameCol, DuplicateCountCol, MissingRowStatusCol, AllRowsMatchedCol)

  /** PK-agnostic row-level report: the dataset's primary-key columns (the
    * only schema-variable part of the report) collapse into one JSON
    * string `key_json` — e.g. `{"o_orderkey":7}` — leaving a schema every
    * dataset shares. A narrow codegen'd projection (`to_json` over the key
    * struct): no shuffle, no action; the original typed key columns remain
    * available in the per-dataset (pre-consolidation) report and the
    * unmatched extracts, which are keyed per dataset and never unioned.
    */
  def normalizeRowReport(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val pks = df.columns.filterNot(RowReportFixedCols.contains)
    df.select(
      col(DatasetNameCol),
      to_json(struct(pks.map(col): _*)).as(KeyJsonCol),
      col(DuplicateCountCol), col(MissingRowStatusCol), col(AllRowsMatchedCol))
  }

  /** Write every report of `result` under `output_dir/job_name`. Rows are
    * written in the reports' own order, with no sort: [[runComparisonJob]]
    * unions datasets in name order, so part files list datasets in
    * ascending name order whenever the write keeps the partitions
    * (`no_of_partitions` ≤ 0, or 1).
    *
    * Union children with the same hash partitioning (the row-level reports
    * of datasets with equal key columns and slim partition counts) would be
    * zipped partition by partition, every part file then holding a slice of
    * each dataset; the writes plan with that off, so the children's
    * partitions are concatenated in union order.
    */
  def writeResults(
      result: ComparisonResult,
      jobName: String,
      outputConfig: OutputConfig): Unit = {
    val base = s"${outputConfig.outputDir}/$jobName"
    // Every report targets its own directory, so the writes are independent
    // jobs — overlap them (guide §2.6) instead of paying each small write's
    // commit latency serially. Failures rethrow in this argument order.
    val writes: Seq[() => Unit] =
      Seq(
        () => IoUtils.writeResult(
          result.colLvlTestReport, s"$base/$ColLvlTestReportDir", outputConfig),
        () => IoUtils.writeResult(
          result.rowLvlTestReport, s"$base/$RowLvlTestReportDir", outputConfig)) ++
        result.unmatchedRecords.toSeq.map { case (colName, df) =>
          () => IoUtils.writeResult(df, s"$base/${unmatchedRowsDir(colName)}", outputConfig)
        } ++
        Seq(() => IoUtils.writeResult(
          result.overallTestReport, s"$base/$OverallTestReportDir", outputConfig))
    val spark = result.overallTestReport.sparkSession
    SessionConf.scoped(spark, UnionOutputPartitioningConf -> "false")(graft.core.Par.runAll(writes))
  }

  private val UnionOutputPartitioningConf = "spark.sql.unionOutputPartitioning"

  def runComparisonJobFromDfs(
      spark: SparkSession,
      jobName: String,
      sourceDf: DataFrame,
      targetDf: DataFrame,
      params: DatasetParams,
      outputConfig: OutputConfig): ComparisonResult = {
    val result = Comparison.compareDataFrames(spark, sourceDf, targetDf, params)
    writeResults(result, jobName, outputConfig)
    result
  }

  /** EP2 with plain-map configs, mirroring the reference's dict hydration
    * (`comparison_job.py:258-262`): `params` and `outputConfig` use the same
    * snake_case keys as the JSON surface (`dataset_name`, `primary_keys`,
    * `test_params`, `output_dir`, …).
    */
  def runComparisonJobFromDfs(
      spark: SparkSession,
      jobName: String,
      sourceDf: DataFrame,
      targetDf: DataFrame,
      params: Map[String, Any],
      outputConfig: Map[String, Any]): ComparisonResult =
    runComparisonJobFromDfs(
      spark, jobName, sourceDf, targetDf,
      ConfigReader.decodeDatasetParams(params),
      ConfigReader.decodeOutputConfig(outputConfig))

  /** Positional union of per-dataset reports (`comparison_job.py:277-291`),
    * in the order given. With `normalizeRowKeys` the row-level reports pass
    * through [[normalizeRowReport]] first, so heterogeneous key schemas
    * union.
    */
  def consolidate(
      results: Seq[ComparisonResult],
      normalizeRowKeys: Boolean = false): ComparisonResult = {
    val rs =
      if (normalizeRowKeys)
        results.map(r => r.copy(rowLvlTestReport = normalizeRowReport(r.rowLvlTestReport)))
      else results
    rs.reduce { (acc, r) =>
      ComparisonResult(
        overallTestReport = acc.overallTestReport.union(r.overallTestReport),
        rowLvlTestReport = acc.rowLvlTestReport.union(r.rowLvlTestReport),
        colLvlTestReport = acc.colLvlTestReport.union(r.colLvlTestReport),
        unmatchedRecords = acc.unmatchedRecords ++ r.unmatchedRecords,
        cachedFrames = acc.cachedFrames ++ r.cachedFrames)
    }
  }

  /** Failure-isolation contract (pinned in ComparisonSpec):
    *
    *  - default (`continue_on_error` absent/false): FAIL-FAST, reference
    *    parity — the first dataset whose read or compare throws aborts
    *    the whole job, nothing is written;
    *  - `continue_on_error = true`: each failing dataset is captured —
    *    one FAILED overall row with zero counts
    *    ([[Comparison.failedOverallReport]]; unambiguous, an empty
    *    dataset compares PASSED), its error message under
    *    [[ComparisonResult.failures]], and NO row/col-level rows or
    *    extracts (those reports document per-row detail an unread
    *    dataset does not have). If EVERY dataset fails there is nothing
    *    to write and the job still throws, carrying the first error as
    *    its cause. Under this flag each dataset's lazy reports are also
    *    FORCED inside its own try (see the loop body), so a deferred
    *    compute failure is captured per-dataset instead of first
    *    surfacing mid-consolidated-write and aborting everything.
    */
  def runComparisonJob(spark: SparkSession, config: ComparisonJobConfig): ComparisonResult = {
    require(config.datasetConfigs.nonEmpty, "dataset_configs cannot be empty")
    // Datasets are independent until consolidation, so their read + compare
    // pipelines run CONCURRENTLY (guide §2.6) — each dataset's eager-job
    // sequence back-fills cores the others' straggler tails leave idle,
    // which is where the sequential loop lost most of its wall-clock (the
    // per-dataset jobs are many and small). Outcomes come back in config
    // order, so the fail-fast choice ("first" = first in config order) and
    // the captured-failure set are identical to the sequential loop.
    val outcomes: Seq[Either[Throwable, ComparisonResult]] =
      graft.core.Par.attemptAll(config.datasetConfigs.map { dc => () =>
        // Each read runs its own schema job (parquet footers); overlap
        // them. runAll rethrows in argument order, so a dataset whose
        // source and target both fail reports the source's error.
        val Seq(src, tgt) = graft.core.Par.runAll(Seq(
          () => IoUtils.readDataframe(spark, dc.sourceConfig),
          () => IoUtils.readDataframe(spark, dc.targetConfig)))
        val r = Comparison.compareDataFrames(spark, src, tgt, dc.params)
        if (config.continueOnError) {
          // Force the dataset's LAZY outputs while still inside its own
          // attempt: the row-level report and the unmatched extracts
          // don't execute until writeResults, and by then the
          // per-dataset frames are consolidated — a deferred failure
          // (cache eviction forcing a source re-read that now errors, a
          // transient storage fault) would abort the whole consolidated
          // write and lose every completed dataset, which is exactly
          // the outcome this flag exists to prevent. The count() runs
          // the row report over the already-filled count frame, and the
          // extract counts run each lazy filter over the
          // already-materialized tolerance frame — cheap cached scans,
          // paid only under continue_on_error. Failures surfacing in
          // the shared write itself (output-path I/O) remain job-level
          // by design: they are not attributable to one dataset.
          r.rowLvlTestReport.count()
          r.unmatchedRecords.valuesIterator.foreach(_.count())
        }
        r
      })
    val attempts: Seq[Either[(String, Throwable), ComparisonResult]] =
      config.datasetConfigs.zip(outcomes).map {
        case (_, Right(r)) => Right(r)
        case (dc, Left(e)) =>
          // fail-fast parity: without continue_on_error the first failing
          // dataset IN CONFIG ORDER aborts the job, nothing is written
          if (!config.continueOnError) throw e
          System.err.println(
            s"[graft] dataset '${dc.params.datasetName}' failed, continuing: $e")
          Left(dc.params.datasetName -> e)
      }
    val failures = attempts.collect { case Left(f) => f }
    if (!attempts.exists(_.isRight))
      throw new IllegalStateException(
        s"all ${attempts.size} datasets failed; first error (dataset " +
          s"'${failures.head._1}') attached as cause",
        failures.head._2)
    // Reports union in dataset-name order (stable: equal names keep config
    // order), the FAILED overall rows in their places, so the written part
    // files come out in name order without a sort job per report.
    val byName = config.datasetConfigs.map(_.params.datasetName).zip(attempts).sortBy(_._1)
    val consolidated =
      consolidate(byName.collect { case (_, Right(r)) => r }, config.normalizeRowKeys)
    val withFailures =
      if (failures.isEmpty) consolidated
      else consolidated.copy(
        overallTestReport = byName.map {
          case (_, Right(r)) => r.overallTestReport
          case (name, Left(_)) => Comparison.failedOverallReport(spark, name)
        }.reduce(_ union _),
        failures = failures.map { case (n, e) => n -> String.valueOf(e.getMessage) }.toMap)
    writeResults(withFailures, config.jobName, config.outputConfig)
    withFailures
  }

  def runComparisonJob(spark: SparkSession, config: Map[String, Any]): ComparisonResult =
    runComparisonJob(spark, ConfigReader.parseComparisonJobConfig(config))
}
