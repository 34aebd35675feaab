package org.apache.spark.sql.graft

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.internal.SessionState
import org.apache.spark.sql.streaming.StreamingQuery

/** Spark runs every streaming query on its own copy of the session
  * (`StreamExecution.sparkSessionForStream`). A stateful operator asks
  * that copy for its query manager, whose listener bus then joins the
  * SparkContext's bus and is never removed: each stateful run would pin
  * one dead session copy for the life of the context. Nothing listens on
  * the copy's bus (the query posts its events through the session that
  * started it), so a stopped query's copy can drop it. The manager and
  * its bus are private to Spark, so they are read reflectively. */
object RunSessionRelease {
  private val managerField = {
    val f = classOf[SessionState].getDeclaredField("streamingQueryManager")
    f.setAccessible(true); f
  }
  private val busField = {
    val f = classOf[classic.StreamingQueryManager]
      .getDeclaredField("listenerBus")
    f.setAccessible(true); f
  }

  /** Drops the listener bus of stopped query `q`'s session copy from the
    * context's bus; a no-op when the copy never built its manager. */
  def apply(q: StreamingQuery): Unit = q match {
    case w: StreamingQueryWrapper =>
      val copy = w.streamingQuery.sparkSessionForStream
      managerField.get(copy.sessionState) match {
        case m: classic.StreamingQueryManager =>
          copy.sparkContext.removeSparkListener(
            busField.get(m).asInstanceOf[SparkListenerInterface])
        case _ =>
      }
    case _ =>
  }
}
