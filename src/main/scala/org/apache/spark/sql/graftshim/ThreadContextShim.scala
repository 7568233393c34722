package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.Utils

/** Carries the submitting thread's Spark context to a pooled thread:
  * the active `SparkSession` and the `SparkContext` local properties
  * (job group, call site, scheduler pool, SQL execution ids) — what
  * `SQLExecution.withThreadLocalCaptured` does for Spark's own
  * broadcast and subquery threads. A pooled thread otherwise keeps
  * the context of whichever caller CREATED it (local properties are
  * inherited once, at thread creation), so a reused thread would run
  * its jobs under a stale job group and session. `getLocalProperties`
  * is `private[spark]`, hence the shim.
  */
object ThreadContextShim {

  /** `f` as a thunk that runs under the context captured NOW (on the
    * submitting thread) and restores the running thread's own context
    * afterwards, also on failure. Without any session the thunk just
    * runs `f`. */
  def captured[T](f: => T): () => T = {
    val session = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val props = session.map(s =>
      Utils.cloneProperties(s.sparkContext.getLocalProperties))
    () => session match {
      case None => f
      case Some(s) =>
        val sc = s.sparkContext
        val prevSession = SparkSession.getActiveSession
        val prevProps = sc.getLocalProperties
        SparkSession.setActiveSession(s)
        sc.setLocalProperties(props.get)
        try f finally {
          sc.setLocalProperties(prevProps)
          prevSession match {
            case Some(p) => SparkSession.setActiveSession(p)
            case None => SparkSession.clearActiveSession()
          }
        }
    }
  }
}
