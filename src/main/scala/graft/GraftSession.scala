package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * AQE is the load-bearing setting: runtime partition coalescing keeps the
  * post-join stage count proportional to data size, and skew-join splitting
  * handles hot keys in every splittable join (inner / semi / left- and
  * right-outer — pinned by PlanSpec). Note Spark cannot skew-split a
  * FULL-outer sort-merge join (neither side may be replicated without
  * breaking its semantics); see [[graft.core.Comparison]] for why the
  * engine's alignment join is structurally protected from skew anyway.
  *
  * The generated-code cache is sized to the engine's working set
  * ([[CodegenCacheEntries]]). Spark compiles every generated class with
  * Janino and keeps it in one JVM-wide cache of
  * `spark.sql.codegen.cache.maxEntries` entries, 100 by default. A warm
  * iterative graph run (pageRank, kCore, bfsHops and connectedComponents
  * over a 2k-edge graph) generates about 180 distinct classes, so at 100
  * entries every run evicts and recompiles all of them (about 180 Janino
  * compiles, 1.5-1.7 s of compile time), and the JVM then JIT-compiles
  * the fresh classes again. At 1000 entries a warm run compiles about 20
  * (0.25-0.3 s) and keeps the rest loaded and JIT-compiled across rounds
  * and calls. A warm clean compare generates about 55 classes and fits
  * either size. Limit: the cache is built once per JVM, by the first code generation,
  * from the conf of the session active then. A JVM whose first session
  * was built elsewhere (and generated code before this builder ran)
  * keeps Spark's 100; such a caller sets
  * `spark.sql.codegen.cache.maxEntries` on its own builder.
  */
object GraftSession {
  /** Entries of Spark's generated-code cache; see the object doc. Each
    * warm graph run loaded about 350 new classes at 100 entries and about
    * 55-100 at this size (52 of them generated), with no unloads, and
    * grew metaspace by about 2 MB at 100 and 1 MB at this size. At about
    * 20 KB of metaspace per generated class, a full cache holds some tens
    * of MB.
    */
  val CodegenCacheEntries = 1000

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(s"local[$cores]", math.max(cores, 8)).getOrCreate()
    // getOrCreate ignores withExtensions when it returns a pre-existing
    // session — retrofit the SQL functions so they are present either way
    GraftExtensions.registerFunctions(spark)
    spark
  }
}
