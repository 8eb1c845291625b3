package graft
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.tools.Jsons

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened for the driver's timeout (round 1 recorded `{}` despite the
  * same queries passing locally):
  *   - `oracle_sql.json` is written FIRST, so if the run is killed mid-way
  *     the completed queries still get oracle-checked;
  *   - queries run in sorted name order (deterministic partial progress);
  *   - per-query verdicts are mirrored incrementally to
  *     `VERIFY_LATEST.json` in the working directory (atomic rewrite after
  *     every query) so a partial run leaves evidence;
  *   - the final stdout line is the bare JSON summary.
  */
object Verify {
  private def writeAtomic(path: String, content: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (local iteration only; the driver passes 2): a
    // comma-separated list of query names to run instead of the full catalog.
    val (sfDir, rawOutDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [query1,query2,...]")
        sys.exit(2)
    }
    // A filtered run writes to a sibling subdirectory: outDir stays the
    // canonical full-catalog dump (oracle_sql.json + one parquet per query)
    // and is never partially overwritten by local subset iteration.
    val outDir = if (only.isEmpty) rawOutDir else s"$rawOutDir/_filtered"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // Oracle SQL first: a timeout mid-queries must not lose the whole gate.
    val oracleJson = SparkEntry.oracleSql
      .map { case (k, v) => s"${Jsons.str(k)}: ${Jsons.str(v)}" }.mkString("{", ",", "}")
    writeAtomic(s"$outDir/oracle_sql.json", oracleJson)

    val verdicts = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // A FILTERED run must not overwrite the canonical full-catalog mirror
    // with a subset that would read as an all-green latest state.
    def mirror(): Unit = if (only.isEmpty) {
      val body = verdicts.map { case (k, v) => s"${Jsons.str(k)}: $v" }
        .mkString("{", ",", "}")
      try writeAtomic("VERIFY_LATEST.json", body)
      catch { case _: Throwable => () }
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val sec = (System.nanoTime() - t0) / 1e9
        verdicts(name) = s"""{"ok": true, "sec": $sec}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        verdicts(name) = s"""{"ok": false, "error": ${Jsons.str(String.valueOf(e.getMessage).take(300))}}"""
      }
      mirror()
    }
    spark.stop()
    val nOk = verdicts.valuesIterator.count(_.contains("\"ok\": true"))
    // Bare last stdout line (driver-parse friendly).
    println(s"""{"verify_queries": ${verdicts.size}, "ok": $nOk, "outDir": ${Jsons.str(outDir)}}""")
    System.out.flush()
  }
}
