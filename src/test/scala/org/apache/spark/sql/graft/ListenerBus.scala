package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test access to the context's listener bus, which is `private[spark]`. */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** How many listeners the context's bus holds, across all its queues. */
  def listeners(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
