package graft.config

import graft.Constants

/** The public config data model — the "query language" of the engine.
  *
  * Same shape and defaults as the reference's dataclass tree
  * (`spark_data_test/entities/config.py:4-41`); field names here are Scala
  * camelCase, while the map/JSON decoder in [[ConfigReader]] accepts the
  * reference's snake_case keys.
  */
/** @param differenceTolerance max |source − target| for a numeric column
  *        pair to still count as matched (config.py:6).
  * @param legacyDecimalComparison the reference tests numeric-ness by
  *        instance equality against `DecimalType()` == DecimalType(10, 0)
  *        (comparison_job.py:14-20), so decimals of any OTHER
  *        precision/scale silently fall back to exact equality. Default
  *        `false` = idiomatic behavior (every `NumericType` gets tolerance);
  *        set `true` to reproduce the reference quirk bit-for-bit.
  * @param canonicalizeNestedTypes extension beyond the reference. Nested
  *        columns are comparable either way: every struct, array and map
  *        column feeds the row checksum through the canonical
  *        `NestedChecksum` kernel, and map columns always compare by it.
  *        When `true`, struct and array columns also compare by the kernel
  *        instead of null-safe equality, so −0.0 and 0.0 differ and strings
  *        compare by bytes rather than by their collation.
  */
final case class TestParams(
    differenceTolerance: Double = 0.0,
    legacyDecimalComparison: Boolean = false,
    canonicalizeNestedTypes: Boolean = false)

final case class DatasetParams(
    datasetName: String,
    primaryKeys: Seq[String],
    testParams: TestParams = TestParams(),
    selectCols: Seq[String] = Seq("*"),
    dropCols: Seq[String] = Seq.empty)

final case class OutputConfig(
    outputDir: String,
    outputFileFormat: String = Constants.ParquetFmt,
    sparkOptions: Map[String, String] = Map.empty,
    noOfPartitions: Int = -1) // -1 means default partitioning

final case class DataframeConfig(
    path: String,
    fileFormat: String = Constants.ParquetFmt,
    sparkOptions: Map[String, String] = Map.empty)

final case class DatasetConfig(
    params: DatasetParams,
    sourceConfig: DataframeConfig,
    targetConfig: DataframeConfig)

final case class ComparisonJobConfig(
    jobName: String,
    datasetConfigs: Seq[DatasetConfig],
    outputConfig: OutputConfig,
    // Opt-in (JSON key "normalize_row_keys"): collapse each dataset's
    // primary-key columns into one `key_json` string in the row-level
    // report, so datasets with DIFFERENT key schemas consolidate. Default
    // false = reference parity (the positional union fails, SURVEY §2.10.10).
    normalizeRowKeys: Boolean = false,
    // Opt-in (JSON key "continue_on_error"): a dataset whose read or
    // compare THROWS (missing path, corrupt parquet, irreconcilable
    // types) no longer aborts the remaining datasets — it contributes one
    // FAILED overall row and its error message to
    // `ComparisonResult.failures`, and is absent from the row/col-level
    // reports and extracts. Default false = reference parity: the first
    // failure kills the whole job (the 50-dataset consolidation bench
    // measured 15 datasets of work lost to one bad dataset mid-loop).
    continueOnError: Boolean = false)
