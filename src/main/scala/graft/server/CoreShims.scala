package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Bridge to the live `SparkContext.conf` (`private[spark]`): the
  * mutable SparkConf that NEW SQL sessions merge into their fresh
  * SQLConf at SessionState build time. The wire server needs it because
  * each JDBC connection gets `sqlContext.newSession()` — a runtime
  * session-conf set on the parent session does not propagate there,
  * only context-conf entries do. Same extension-library technique as
  * [[org.apache.spark.sql.graftshim.SqlShims]]. */
object CoreShims {
  def setContextConf(sc: SparkContext, key: String, value: String): Unit =
    sc.conf.set(key, value): Unit

  /** Drain the listener bus (`private[spark]`): block until every event
    * posted so far has been delivered to every listener. [[graft.QueryTrace]]
    * reads what its listener built right after the traced call returns —
    * without the drain, trailing stage and task events land after the
    * read. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
