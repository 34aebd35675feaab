package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Test access to the context's listener bus, which is `private[spark]`. */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The listeners the context's bus holds, across all its queues, in a
    * set that compares them by reference. A check that no listener was
    * added compares these, not counts: the ContextCleaner may remove an
    * unreachable session's listener at any time, which lowers a count
    * with no leak, or cancels one out. */
  def listenerSet(sc: SparkContext): java.util.Set[SparkListenerInterface] = {
    val set = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkListenerInterface, java.lang.Boolean])
    set.addAll(sc.listenerBus.listeners)
    set
  }
}
