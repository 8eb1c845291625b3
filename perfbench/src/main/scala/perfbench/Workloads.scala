package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.ConfigReader
import graft.jobs.ComparisonJob
import graft.operators.{Dedup, Graphs}

/** One workload: how to write its inputs, run one unit of work through the
  * engine's public entry points, and check what the unit produced.
  */
trait Workload {
  /** Input rows (both sides) or edges one unit processes. */
  def inputRows: Long
  /** Writes the seeded inputs and checks them. */
  def generate(spark: SparkSession): Unit
  /** Clears what the previous unit left behind; runs untimed before each unit. */
  def prepare(): Unit = ()
  /** Runs one unit. With a tracer each layer call runs in its own span. The
    * returned check runs afterwards, untimed, and lists every discrepancy.
    */
  def unit(spark: SparkSession, tracer: Option[Tracer]): () => Seq[String]
}

object Workloads {

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def span[A](tracer: Option[Tracer], name: String)(body: => A): A =
    tracer.fold(body)(_.span(name)(body))

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Writes both sides of `t` as parquet under `dir/<name>/{src,tgt}` and
    * checks the written row counts and that the key is unique on each side
    * apart from the keys the drift duplicates on purpose.
    */
  def writeTable(spark: SparkSession, t: Gen.Table, seed: Long, dir: File): Unit = {
    val schema = t.schema
    val parts = if (t.rows >= 20000) 4 else 1
    val e = Gen.expect(t)
    Seq(("src", e.srcRows, e.srcRows - e.srcDups), ("tgt", e.tgtRows, e.tgtRows - e.tgtDups))
      .foreach { case (side, rows, distinctKeys) =>
        val rdd = spark.sparkContext.range(0, t.rows, 1, parts).mapPartitions { ks =>
          val cat = new Gen.Categorizer(t, seed)
          ks.flatMap { k =>
            val (s, g) = Gen.sides(t, seed, cat(k), k)
            (if (side == "src") s else g).map(Row.fromSeq)
          }
        }
        val path = new File(dir, s"${t.name}/$side").getPath
        spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
        val written = spark.read.parquet(path)
          .agg(count(lit(1)), count_distinct(col(t.keys.head), t.keys.tail.map(col): _*))
          .head()
        if (written.getLong(0) != rows || written.getLong(1) != distinctKeys)
          throw new IllegalStateException(
            s"${t.name}/$side: wrote ${written.getLong(0)} rows with ${written.getLong(1)} " +
              s"distinct keys, expected $rows rows with $distinctKeys distinct keys")
      }
  }
}

/** A config-driven compare job over `tables`, run through
  * `ConfigReader.parseComparisonJobConfigJson` and
  * `ComparisonJob.runComparisonJob`; its written reports are read back and
  * checked against [[Gen.expect]].
  */
final class CompareWorkload(
    tables: Seq[Gen.Table],
    seed: Long,
    work: File,
    outputPartitions: Int,
    normalizeRowKeys: Boolean) extends Workload {
  import Workloads._

  private val jobName = "perfbench_job"
  private val outDir = new File(work, "out")
  private val expects = tables.map(Gen.expect)

  def inputRows: Long = expects.map(e => e.srcRows + e.tgtRows).sum

  def generate(spark: SparkSession): Unit =
    tables.foreach(Workloads.writeTable(spark, _, seed, new File(work, "inputs")))

  val configJson: String = mapper.writeValueAsString(Map(
    "job_name" -> jobName,
    "normalize_row_keys" -> normalizeRowKeys,
    "dataset_configs" -> tables.map(t => Map(
      "params" -> Map(
        "dataset_name" -> t.name,
        "primary_keys" -> t.keys,
        "test_params" -> Map("difference_tolerance" -> t.tolerance)),
      "source_config" -> Map("path" -> new File(work, s"inputs/${t.name}/src").getPath),
      "target_config" -> Map("path" -> new File(work, s"inputs/${t.name}/tgt").getPath))),
    "output_config" -> Map(
      "output_dir" -> outDir.getPath,
      "no_of_partitions" -> outputPartitions)))

  override def prepare(): Unit = deleteRecursively(outDir)

  /** Untraced: parse and run the job. Traced: the parse runs in a `config`
    * span and the unchanged `runComparisonJob` in a sampled span, whose
    * layers (`sources.read`, `core`, `jobs.consolidate`, `jobs.write`) come
    * from the stacks of the threads running it and whose jobs are charged
    * by call site.
    */
  def unit(spark: SparkSession, tracer: Option[Tracer]): () => Seq[String] = {
    val result = tracer match {
      case None =>
        ComparisonJob.runComparisonJob(spark, ConfigReader.parseComparisonJobConfigJson(configJson))
      case Some(tr) =>
        val cfg = tr.span("config")(ConfigReader.parseComparisonJobConfigJson(configJson))
        tr.sampled("job")(ComparisonJob.runComparisonJob(spark, cfg))
    }
    () => try check(spark) finally result.unpersist()
  }

  /** Files and bytes under the written reports. */
  def outputFiles: (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(outDir).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    (files.size.toLong, files.map(_.length).sum)
  }

  /** Reads every report back and lists its differences from the expectation. */
  def check(spark: SparkSession): Seq[String] = {
    val base = new File(outDir, jobName)
    def read(dir: String): DataFrame = spark.read.parquet(new File(base, dir).getPath)
    val byName = expects.map(e => e.dataset -> e).toMap
    val errs = Seq.newBuilder[String]

    val overall = read("overall_test_report").collect()
    if (overall.length != expects.size) errs += s"overall report has ${overall.length} rows"
    overall.foreach { r =>
      val name = r.getAs[String]("dataset_name")
      byName.get(name) match {
        case None => errs += s"overall report names unknown dataset $name"
        case Some(e) =>
          def pair(c: String) = {
            val m = r.getMap[String, Long](r.fieldIndex(c))
            (m("source"), m("target"))
          }
          val got = (pair("count"), r.getAs[Long]("matched_count"), pair("duplicate_count"),
            pair("missing_rows"), r.getAs[String]("test_status"))
          val want = ((e.srcRows, e.tgtRows), e.matched, (e.srcDups, e.tgtDups),
            (e.missSrc, e.missTgt), if (e.passed) "PASSED" else "FAILED")
          if (got != want) errs += s"$name overall: got $got, expected $want"
      }
    }

    val colLvl = read("col_lvl_test_report").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val colWant = expects.flatMap(e => e.colUnmatched.map { case (c, n) => (e.dataset, c, n) }).toSet
    if (colLvl != colWant)
      errs += s"column-level report differs: extra ${colLvl -- colWant}, missing ${colWant -- colLvl}"

    val rowLvl = read("row_lvl_test_report")
      .groupBy("dataset_name", "missing_row_status", "all_rows_matched", "duplicate_count")
      .count().collect()
      .map(r => (r.getString(0), (r.getString(1), r.getBoolean(2), r.getLong(3))) -> r.getLong(4)).toMap
    val rowWant = expects.flatMap(e => e.rowGroups.map { case (g, n) => (e.dataset, g) -> n }).toMap
    if (rowLvl != rowWant)
      errs += s"row-level report differs: got ${rowLvl.toSeq.sorted}, expected ${rowWant.toSeq.sorted}"

    val extractRoot = new File(base, "unmatched_rows")
    val extractDirs = Option(extractRoot.listFiles).toSeq.flatten
      .flatMap(d => Option(d.listFiles).toSeq.flatten.map(c => s"${d.getName}/${c.getName}")).toSet
    val extractWant = expects.flatMap(e => e.extracts.map { case (c, n) => s"${e.dataset}/$c" -> n }).toMap
    if (extractDirs != extractWant.keySet)
      errs += s"extract directories ${extractDirs.toSeq.sorted}, expected ${extractWant.keySet.toSeq.sorted}"
    extractWant.foreach { case (d, n) =>
      if (extractDirs(d)) {
        val got = read(s"unmatched_rows/$d").count()
        if (got != n) errs += s"extract $d has $got rows, expected $n"
      }
    }
    errs.result()
  }
}

/** The iterative graph operators over a seeded edge list of known structure:
  * `Graphs.pageRank` (3 iterations), `Graphs.kCoreReleased` (k = 3),
  * `Graphs.bfsHops` (3 hops) and `Dedup.connectedComponents`. Each operator's
  * result is reduced to a small summary inside the unit (the action that
  * materializes it), and the summaries are checked against [[GraphGen]].
  */
final class GraphWorkload(g: GraphGen, work: File) extends Workload {
  import Workloads._

  def inputRows: Long = g.edgeCount

  private def edgesPath = new File(work, "inputs/edges").getPath
  private def seedsPath = new File(work, "inputs/seeds").getPath

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    g.edges.toSeq.toDF("a", "b").repartition(4).write.mode("overwrite").parquet(edgesPath)
    g.bfsSeeds.toSeq.toDF("node").coalesce(1).write.mode("overwrite").parquet(seedsPath)
    val n = spark.read.parquet(edgesPath).count()
    if (n != g.edgeCount) throw new IllegalStateException(s"wrote $n edges, expected ${g.edgeCount}")
  }

  def unit(spark: SparkSession, tracer: Option[Tracer]): () => Seq[String] = {
    val pairs = spark.read.parquet(edgesPath)
    val pr = span(tracer, "operators.pagerank") {
      Graphs.pageRank(pairs, "a", "b", iters = 3, dampPpm = g.dampPpm, scale = g.scale)
        .groupBy("rank_scaled").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val kc = span(tracer, "operators.kcore") {
      val r = Graphs.kCoreReleased(pairs, "a", "b", k = 3)
        .agg(count(lit(1)), coalesce(sum("node"), lit(0L)), coalesce(min("core_deg"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val bfs = span(tracer, "operators.bfs") {
      val seeds = spark.read.parquet(seedsPath)
      Graphs.bfsHops(pairs, "a", "b", seeds, "node", maxHops = 3)
        .groupBy("hops").agg(count(lit(1)), sum("node")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val cc = span(tracer, "operators.cc") {
      val r = Dedup.connectedComponents(pairs, "a", "b", smallGraphEdges = 0L)
        .agg(count(lit(1)), count_distinct(col("component")), sum("component"))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    () => {
      val errs = Seq.newBuilder[String]
      if (pr != g.expectedRanks) errs += s"pageRank rank histogram $pr, expected ${g.expectedRanks}"
      if (kc != g.expectedCore) errs += s"kCore summary $kc, expected ${g.expectedCore}"
      if (bfs != g.expectedHops) errs += s"bfsHops per-hop summary $bfs, expected ${g.expectedHops}"
      if (cc != g.expectedComponents) errs += s"components summary $cc, expected ${g.expectedComponents}"
      errs.result()
    }
  }
}

/** A seeded graph of disjoint clusters whose operator results are known in
  * closed form. Each cluster is either a ring of 5-8 nodes (degree 2) or a
  * circulant of 7-10 nodes with offsets 1-3 (degree 6); node ids are a
  * seeded permutation.
  *
  *  - PageRank: every node of a d-regular cluster keeps the same rank, the
  *    integer recurrence r ↦ ((10⁶ − damp)·b0 + damp·d·(r div d)) div 10⁶
  *    from r = b0 = scale div |V|.
  *  - 3-core: exactly the circulant clusters, every node at core degree 6.
  *  - BFS from position 0 of every tenth cluster: position j sits
  *    ⌈min(j, S − j) / reach⌉ hops out (reach 1 on rings, 3 on circulants).
  *  - Components: one per cluster, labelled by its minimum node id.
  */
final class GraphGen(val targetEdges: Long, seed: Long) {
  val dampPpm = 850000L
  val scale = 1000000000000L

  // The cluster shapes are the same for every seed, so the operators' round
  // counts and cache sizes are too; the seed permutes ids and orientations.
  private val clusters: Seq[(Int, Boolean)] = {
    val b = Seq.newBuilder[(Int, Boolean)]
    var edges = 0L
    var c = 0
    while (edges < targetEdges) {
      val dense = c % 2 == 0
      val size = (if (dense) 7 else 5) + (c / 2) % 4
      b += ((size, dense))
      edges += (if (dense) 3L * size else size.toLong)
      c += 1
    }
    b.result()
  }
  private val offsets = clusters.scanLeft(0L)(_ + _._1)
  val nodeCount: Long = offsets.last
  private val perm = Gen.Perm.seeded(nodeCount, seed, 901)
  private def id(c: Int, j: Int): Long = perm(offsets(c) + j) + 1

  /** Undirected edges, each once and in a seeded orientation. */
  def edges: Iterator[(Long, Long)] =
    clusters.indices.iterator.flatMap { c =>
      val (size, dense) = clusters(c)
      val reach = if (dense) 3 else 1
      for (j <- (0 until size).iterator; off <- (1 to reach).iterator) yield {
        val (u, v) = (id(c, j), id(c, (j + off) % size))
        if (Gen.h(seed, 902, u, v) % 2 == 0) (u, v) else (v, u)
      }
    }

  val edgeCount: Long = clusters.map { case (s, d) => if (d) 3L * s else s.toLong }.sum

  def bfsSeeds: Iterator[Long] = clusters.indices.iterator.filter(_ % 10 == 0).map(id(_, 0))

  def expectedRanks: Map[Long, Long] = {
    val b0 = scale / nodeCount
    def rank(d: Long): Long =
      (1 to 3).foldLeft(b0)((r, _) => ((1000000L - dampPpm) * b0 + dampPpm * (d * (r / d))) / 1000000L)
    clusters.groupMapReduce { case (_, dense) => rank(if (dense) 6 else 2) }(_._1.toLong)(_ + _)
  }

  def expectedCore: (Long, Long, Long) = {
    val dense = clusters.indices.filter(clusters(_)._2)
    (dense.map(clusters(_)._1.toLong).sum,
      dense.map(c => (0 until clusters(c)._1).map(id(c, _)).sum).sum,
      if (dense.isEmpty) 0L else 6L)
  }

  def expectedHops: Map[Long, (Long, Long)] =
    clusters.indices.filter(_ % 10 == 0).flatMap { c =>
      val (size, dense) = clusters(c)
      val reach = if (dense) 3 else 1
      (0 until size).map(j => (j, (math.min(j, size - j) + reach - 1) / reach))
        .filter(_._2 <= 3)
        .map { case (j, hop) => hop.toLong -> id(c, j) }
    }.groupMapReduce(_._1)(x => (1L, x._2)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def expectedComponents: (Long, Long, Long) =
    (nodeCount, clusters.size.toLong,
      clusters.indices.map(c => clusters(c)._1 * (0 until clusters(c)._1).map(id(c, _)).min).sum)
}
