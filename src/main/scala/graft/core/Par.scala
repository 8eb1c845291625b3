package graft.core

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.util.control.NonFatal

/** Concurrent driver-side Spark actions (optimization guide §2.6): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them sequentially.
  * Overlapping independent actions lets the next job's tasks back-fill
  * cores freed by the current job's straggler tail, which is where the
  * engine's many small eager jobs (cache fills, per-dataset compares,
  * report writes) were losing wall-clock at every scale.
  *
  * Outcomes come back IN ARGUMENT ORDER, so callers' error semantics stay
  * deterministic regardless of completion order. Fatal errors (OOM, link
  * errors) are rethrown at the call site, never captured as values —
  * `attemptAll` only materializes `NonFatal` failures, matching the
  * fail-fast behavior of the sequential loops this replaces.
  */
private[graft] object Par {

  /** Bound on in-flight concurrent actions: enough to fill straggler
    * tails, not so many that AQE executions fight for executor slots
    * (guide §2.6: "2-3 jobs in flight is plenty").
    */
  private val MaxConcurrent = 4

  /** Evaluate every thunk, at most [[MaxConcurrent]] concurrently, wait for
    * ALL to settle, and return per-thunk outcomes in argument order.
    * Fatal (non-`NonFatal`) throwables propagate immediately by rethrow.
    */
  def attemptAll[A](tasks: Seq[() => A]): Seq[Either[Throwable, A]] =
    if (tasks.sizeIs <= 1)
      tasks.map(t => try Right(t()) catch { case NonFatal(e) => Left(e) })
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(MaxConcurrent, tasks.size),
        (r: Runnable) => { val t = new Thread(r, "graft-par"); t.setDaemon(true); t })
      try {
        val futures = tasks.map { t =>
          pool.submit(new Callable[Either[Throwable, A]] {
            // capture EVERYTHING here so one task's failure never loses a
            // sibling's outcome; fatal errors are re-distinguished below
            def call(): Either[Throwable, A] =
              try Right(t()) catch { case e: Throwable => Left(e) }
          })
        }
        futures.map(_.get()).map {
          case Left(e) if !NonFatal(e) => throw e
          case other => other
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
    }

  /** [[attemptAll]], rethrowing the first (argument-order) failure after
    * every task has settled — the deterministic parallel analogue of a
    * sequential fail-fast loop. Returns the results in argument order.
    */
  def runAll[A](tasks: Seq[() => A]): Seq[A] = {
    val outcomes = attemptAll(tasks)
    outcomes.collectFirst { case Left(e) => e }.foreach(e => throw e)
    outcomes.collect { case Right(a) => a }
  }
}
