package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog operator: its Spark plan over a scale-factor directory and
  * the DuckDB SQL that must return the same rows from the same parquet
  * tables. Both live in one registration, so a query cannot be added
  * without its oracle.
  *
  * Determinism rules for oracle-checked queries (the driver hash-compares
  * values):
  *  - numeric aggregates accumulate in DECIMAL (exact) and cast to double
  *    once at the end — never order-dependent float sums;
  *  - counts are BIGINT on both sides (DuckDB integer SUM/COUNT is HUGEINT
  *    unless cast);
  *  - column names are aliased identically in the Spark plan and the SQL;
  *  - no raw timestamp output columns (formatted to strings when needed).
  */
final case class CatalogQuery(run: (SparkSession, String) => DataFrame, oracleSql: String)

/** The fixture tables the catalog families read, by short name. */
private[catalog] object Fixtures {
  def li(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "lineitem")
  def ord(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "orders")
  def cust(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "customer")
  def docs(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "documents")
  def embs(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "embeddings")
}
