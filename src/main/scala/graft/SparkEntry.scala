package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The catalog itself lives in [[Queries]].
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full comparison engine end-to-end on the perturbed-orders scenario,
    * returning the row-level report.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.queries("q_compare_row_lvl")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; every catalog query carries one. */
  def oracleSql: Map[String, String] = Queries.oracleSql
}
