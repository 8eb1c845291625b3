package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Constants
import graft.config.{DataframeConfig, OutputConfig}

/** Generic DataFrame sources & sinks — the engine reads from and writes to
  * any Spark DataSource format.
  *
  * Semantics follow the reference's IO layer
  * (`spark_data_test/utils/io_utils.py:5-38`): the `"table"` format sentinel
  * reads a catalog table (io_utils.py:33-34); writes always overwrite
  * (io_utils.py:18); a positive `noOfPartitions` shrinks with `coalesce`
  * (no shuffle) and grows with `repartition` (io_utils.py:15-16).
  */
object IoUtils {

  /** Read a DataFrame from the configured source. */
  def readDataframe(spark: SparkSession, cfg: DataframeConfig): DataFrame =
    if (cfg.fileFormat == Constants.TableFmt) spark.read.table(cfg.path)
    else spark.read.options(cfg.sparkOptions).format(cfg.fileFormat).load(cfg.path)

  /** Write a report DataFrame to `path` per the output config. */
  def writeResult(df: DataFrame, path: String, outputConfig: OutputConfig): Unit = {
    val n = outputConfig.noOfPartitions
    // coalesce avoids a shuffle when reducing parallelism; a full
    // repartition is only paid when the caller asks for MORE output files
    // than the plan has (io_utils.py:15-16). The plan's partition count is
    // read from the physical plan, not from `df.rdd.getNumPartitions`: on
    // an adaptive plan that call runs every upstream shuffle stage, and the
    // write then runs them all again. Under AQE the planned count is the
    // count before runtime coalescing, so a write that asks for more files
    // than AQE leaves can get fewer. One file never needs the plan at all.
    val sized =
      if (n <= 0) df
      else if (n == 1 || n < df.queryExecution.executedPlan.outputPartitioning.numPartitions)
        df.coalesce(n)
      else df.repartition(n)
    sized.write
      .options(outputConfig.sparkOptions)
      .mode(Constants.OverwriteMode)
      .format(outputConfig.outputFileFormat)
      .save(path)
  }

  /** Hive-style partitioned write: one directory per distinct value tuple
    * of `partitionCols`, so reads filtered on those columns prune whole
    * directories BEFORE any IO (`PartitionFilters` in the scan, pinned in
    * PlanSpec) — at 100 TB, the difference between scanning a day and
    * scanning a decade. Partition columns should be low-cardinality
    * (a date, a source tag); high-cardinality partitioning produces a
    * small-file explosion, which is what [[writeBucketed]] is for.
    *
    * `maxRecordsPerFile` caps file size without a repartition (Spark
    * splits a task's output by row count) — the knob that keeps one hot
    * partition from producing a single multi-GB file.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      format: String = Constants.ParquetFmt,
      maxRecordsPerFile: Long = 0L): Unit = {
    require(partitionCols.nonEmpty, "partitionCols cannot be empty")
    val w = df.write
      .format(format)
      .mode(Constants.OverwriteMode)
      .partitionBy(partitionCols: _*)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
      .save(path)
  }

  /** Bucketed + sorted catalog-table write for CO-LOCATED joins: two tables
    * bucketed and sorted by the same keys into the same bucket count join
    * with ZERO exchanges — the shuffle is paid once at write time instead
    * of on every join (pinned in PlanSpec). At 100 TB this is the standard
    * move for a fact table joined repeatedly on the same key. Bucket
    * metadata lives in the catalog, so the target must be a table name,
    * not a path.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      format: String = Constants.ParquetFmt): Unit = {
    require(bucketCols.nonEmpty, "bucketCols cannot be empty")
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    df.write
      .format(format)
      .mode(Constants.OverwriteMode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }
}
