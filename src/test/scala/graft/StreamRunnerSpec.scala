package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** [[StreamingOps.runToEnd]], the one way a finite streaming query ends,
  * tested once at the abstraction; then the registry-wide check that no
  * row leaves a streaming query running. */
class StreamRunnerSpec extends AnyFunSuite {
  import TestSpark._

  /** Two one-file parquet pieces of `rows` rows each under a fresh dir. */
  private def twoPieces(rows: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_runner_in")
      .toString
    Seq(0L, 1L).foreach { k =>
      spark.range(k * rows, (k + 1) * rows).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    dir
  }

  private def stream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema("id BIGINT").option("maxFilesPerTrigger", "1")
      .parquet(dir)

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq

  test("runToEnd: a failing query's own exception surfaces and no " +
      "query stays active") {
    val s = spark.newSession()
    val dir = twoPieces(10)
    try {
      val e = intercept[StreamingQueryException] {
        StreamingOps.runToEnd("failing probe", stream(s, dir).writeStream
          .foreachBatch { (_: DataFrame, id: Long) =>
            throw new IllegalStateException(s"probe batch $id failed")
          })
      }
      assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException]
          && c.getMessage == "probe batch 0 failed"),
        s"the batch's exception is not in the cause chain: ${causes(e)}")
      assert(s.streams.active.isEmpty,
        s"queries still active: ${s.streams.active.map(_.name).toSeq}")
    } finally graft.operators.Scans.rmRecursive(new java.io.File(dir))
  }

  test("runToEnd: a clean run returns the terminated query with its " +
      "data batches in recentProgress") {
    val s = spark.newSession()
    val dir = twoPieces(10)
    val name = s"graft_runner_probe_${System.nanoTime()}"
    try {
      val q = StreamingOps.runToEnd("clean probe", stream(s, dir)
        .writeStream.format("memory").queryName(name))
      assert(!q.isActive && q.exception.isEmpty)
      val data = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      assert(data.map(_.numInputRows) == Seq(10L, 10L),
        s"expected two 10-row data batches: ${q.recentProgress.toSeq}")
      assert(s.table(name).count() == 20)
      assert(s.streams.active.isEmpty)
    } finally graft.operators.Scans.rmRecursive(new java.io.File(dir))
  }

  /** Every registered row that starts a streaming query: the rows that
    * finish through [[StreamingOps.runToEnd]] plus the socket row, which
    * polls and stops its query itself. */
  private val streamingRows = Seq(
    "profile_stream_progress", "stream_foreachbatch_upsert",
    "source_stream_join", "source_stream_join_outer", "stream_update_mode",
    "stream_transform_with_state", "stream_tws_timers",
    "stream_tws_mapstate", "stream_incremental_restart",
    "scan_state_store", "scan_state_metadata", "source_stream_rate",
    "sink_stream_table", "source_stream_file", "source_stream_window",
    "sink_stream_foreach", "source_stream_socket")

  test("registry hygiene: every query a streaming row starts has " +
      "terminated when the row returns") {
    // Started/terminated run ids are read off the context's shared bus,
    // which also carries the queries of session clones. Each row runs in
    // a fresh session, so no memoized build (the statestore checkpoint
    // two rows share) is served from an earlier run: every row really
    // starts a query.
    val started = ConcurrentHashMap.newKeySet[UUID]()
    val terminated = ConcurrentHashMap.newKeySet[UUID]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: QueryStartedEvent => started.add(q.runId); ()
        case q: QueryTerminatedEvent => terminated.add(q.runId); ()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try streamingRows.foreach { row =>
      val s = spark.newSession()
      ListenerBus.drain(spark.sparkContext)
      val before = started.asScala.toSet
      assert(SparkEntry.queries(row)(s, SF001).count() > 0, s"$row is empty")
      ListenerBus.drain(spark.sparkContext)
      val runs = started.asScala.toSet -- before
      assert(runs.nonEmpty, s"$row started no streaming query")
      val live = runs.filterNot(terminated.contains)
      assert(live.isEmpty, s"$row left ${live.size} of ${runs.size} " +
        "streaming queries running")
      assert(s.streams.active.isEmpty, s"$row left queries active in its " +
        s"session: ${s.streams.active.map(_.name).toSeq}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
