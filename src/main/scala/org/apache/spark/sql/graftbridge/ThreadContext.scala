package org.apache.spark.sql.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.Utils

/** A thread's Spark context, carried to a pooled thread: the active
  * session and the SparkContext's local properties (job group, job tags,
  * scheduler pool, SQL execution ids). A fresh thread inherits both from
  * the thread that starts it; a pooled thread would keep those of whichever
  * thread started it first, so a task run for another caller installs that
  * caller's instead. `SparkContext.getActive` and the local-property
  * accessors are private[spark], hence this bridge. */
final class ThreadContext private (session: Option[SparkSession],
                                   sc: Option[SparkContext], props: Option[Properties]) {

  /** `body` with this context installed on the current thread, and the
    * thread's own restored afterwards. */
  def run[T](body: => T): T = {
    val ownSession = SparkSession.getActiveSession
    val ownProps = sc.map(_.getLocalProperties)
    session.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    for (c <- sc; p <- props) c.setLocalProperties(Utils.cloneProperties(p))
    try body
    finally {
      ownSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      for (c <- sc; p <- ownProps) c.setLocalProperties(p)
    }
  }
}

object ThreadContext {
  /** The calling thread's context. */
  def capture(): ThreadContext = {
    val sc = SparkContext.getActive
    new ThreadContext(SparkSession.getActiveSession, sc,
      sc.map(c => Utils.cloneProperties(c.getLocalProperties)))
  }
}
