package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ComparisonResult

/** One shared local SparkSession per test JVM (build forks one JVM for the
  * whole Test config, so suites reuse it via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()

  /** The frames a compare persisted for its mismatch refetch: the
    * tolerance pass over the refetched full-width pairs.
    */
  protected def refetchFrames(res: ComparisonResult): Seq[DataFrame] =
    res.cachedFrames.filter(_.columns.contains(Constants.AllRowsMatchedAfterTolCol))

  /** A compare took the clean fast path: no refetch frame was persisted. */
  protected def assertNoRefetch(res: ComparisonResult, clue: String): Unit =
    assert(refetchFrames(res).isEmpty, clue)
}
