package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The piece of Spark's internals the benchmark needs. */
object SparkInternals {
  /** Deliver every queued listener event: before the timed window opens,
    * so no warm-up event lands in it, and before the window's figures are
    * read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
