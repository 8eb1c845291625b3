package graft

import org.apache.spark.sql.SparkSession

/** Scoped session configuration. */
private[graft] object SessionConf {

  /** Run `body` with the given session confs set, then restore each one's
    * previous value, or unset it if the caller had not set it (`getOption`
    * would read a registered conf's default and pin it). The session is
    * shared: other threads see the values while `body` runs.
    */
  def scoped[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val callerSet = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> callerSet.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
