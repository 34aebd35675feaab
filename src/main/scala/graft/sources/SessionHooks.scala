package graft.sources

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Shared run-once-per-(session, tag) application-end hook: [[SessionMemo]]
  * evicts a stopped session's entries through it, and the scratch,
  * bucketed-layout and Derby cleanups release what a session created. */
object SessionHooks {
  private val hooked =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
        java.lang.Boolean])

  /** Register `cleanup` to run when `s`'s SparkContext ends. Idempotent
    * per (session, tag): callers may invoke this on every cache access. */
  def onApplicationEnd(s: SparkSession, tag: String)(cleanup: () => Unit)
      : Unit =
    if (hooked.add((s, tag))) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd)
            : Unit = {
          cleanup()
          hooked.remove((s, tag))
          ()
        }
      })
    }
}
