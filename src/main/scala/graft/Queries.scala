package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._

/** The operator catalog behind [[SparkEntry]]: one query per operator class
  * in SURVEY.md §2 plus the LLM-pipeline extension operators. Each query is
  * one [[CatalogQuery]] registration (Spark plan plus DuckDB oracle SQL) in
  * its family's file under `graft/catalog`; this object only indexes them.
  */
object Queries {
  /** The catalog by name. Throws when two registrations share a name, which
    * a plain `toMap` would resolve by silently dropping one of them.
    */
  private[graft] def index(families: Seq[Seq[(String, CatalogQuery)]]): Map[String, CatalogQuery] = {
    val all = families.flatten
    val shared = all.groupBy(_._1).collect { case (name, regs) if regs.size > 1 => name }
    require(shared.isEmpty, s"catalog names registered more than once: ${shared.toSeq.sorted.mkString(", ")}")
    all.toMap
  }

  private val catalog: Map[String, CatalogQuery] = index(Seq(
    ReferenceQueries.queries, CompareQueries.queries, DedupQueries.queries,
    SimilarityQueries.queries, TextQueries.queries, EventQueries.queries,
    GraphQueries.queries, SketchQueries.queries, SampleQueries.queries,
    ProfileQueries.queries, MultimodalQueries.queries, CurateQueries.queries))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (name, q) => name -> q.run }

  val oracleSql: Map[String, String] =
    catalog.map { case (name, q) => name -> q.oracleSql }

  /** Release every memoized comparison run's persisted frames (benchmarks
    * call this between warmup and measurement).
    */
  def clearComparisonCache(): Unit = CompareQueries.clearComparisonCache()
}
