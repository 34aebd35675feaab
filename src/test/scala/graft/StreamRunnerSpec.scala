package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, unix_micros}
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** [[StreamingOps.runToEnd]], the one way a finite streaming query ends,
  * tested once at the abstraction; then the registry-wide check that no
  * row leaves a streaming query running, or leaves a listener or a temp
  * view behind when it runs again; then the one events staging the
  * file-source rows share. */
class StreamRunnerSpec extends AnyFunSuite {
  import TestSpark._

  /** Two one-file parquet pieces of `rows` rows each under a fresh dir. */
  private def twoPieces(rows: Int): String = {
    val dir = TestSpark.tempDir("graft_runner_in")
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

  /** Temp views of `s`: a memory sink registers one on the session that
    * started its query. */
  private def tempViews(s: SparkSession): Int =
    s.catalog.listTables().collect().count(_.isTemporary)

  test("registry hygiene: every query a streaming row starts has " +
      "terminated when the row returns") {
    // Started/terminated run ids are read off the context's shared bus,
    // which also carries the queries of session clones. Each row runs in
    // a fresh session, so no memoized build (the statestore checkpoint
    // two rows share) is served from an earlier run: every row really
    // starts a query. A second run in that session must add no listener
    // to the context bus (a new clone's query manager, or the session copy
    // Spark runs a stateful query on, would) and no memory-sink view, on
    // the session or on the 1-partition clone the socket row uses.
    val sc = spark.sparkContext
    val started = ConcurrentHashMap.newKeySet[UUID]()
    val terminated = ConcurrentHashMap.newKeySet[UUID]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: QueryStartedEvent => started.add(q.runId); ()
        case q: QueryTerminatedEvent => terminated.add(q.runId); ()
        case _ =>
      }
    }
    // a second run may serve a memoized build and start no query
    def runOnce(row: String, s: SparkSession, first: Boolean): Unit = {
      ListenerBus.drain(sc)
      val before = started.asScala.toSet
      assert(SparkEntry.queries(row)(s, SF001).count() > 0, s"$row is empty")
      ListenerBus.drain(sc)
      val runs = started.asScala.toSet -- before
      assert(runs.nonEmpty || !first, s"$row started no streaming query")
      val live = runs.filterNot(terminated.contains)
      assert(live.isEmpty, s"$row left ${live.size} of ${runs.size} " +
        "streaming queries running")
      assert(s.streams.active.isEmpty, s"$row left queries active in its " +
        s"session: ${s.streams.active.map(_.name).toSeq}")
    }
    sc.addSparkListener(listener)
    try streamingRows.foreach { row =>
      val s = spark.newSession()
      runOnce(row, s, first = true)
      val oneWide = Sessions.scoped(s, "spark.sql.shuffle.partitions" -> "1")
      val views = (tempViews(s), tempViews(oneWide))
      val listeners = ListenerBus.listenerSet(sc)
      runOnce(row, s, first = false)
      val added = ListenerBus.listenerSet(sc).asScala
        .filterNot(listeners.contains)
      assert(added.isEmpty, s"$row's second run added ${added.size} " +
        s"listener(s) to the context bus: ${added.map(_.getClass.getName)}")
      assert((tempViews(s), tempViews(oneWide)) == views,
        s"$row's second run changed the (session, 1-partition clone) " +
          s"temp-view counts from $views to " +
          s"${(tempViews(s), tempViews(oneWide))}")
    } finally sc.removeSparkListener(listener)
  }

  test("one events staging feeds the nine file-source rows: two data " +
      "batches for the parity rows, one for the others") {
    val parityRows = Seq("stream_transform_with_state",
      "stream_tws_mapstate", "stream_update_mode", "profile_stream_progress",
      "stream_foreachbatch_upsert")
    val oneBatchRows = Seq("source_stream_file", "source_stream_window",
      "sink_stream_foreach", "sink_stream_table")
    val sc = spark.sparkContext
    val s = spark.newSession()
    val even = graft.sources.Tables.events(s, SF001)
      .filter(pmod(unix_micros(col("ts")), lit(2)) === 0).count()
    // progress events of every query, clones' included, from the
    // context's bus
    val progress = new ConcurrentLinkedQueue[QueryProgressEvent]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent => progress.add(p); ()
        case _ =>
      }
    }
    /** `row`'s data batches' numInputRows, in batch order. */
    def dataBatches(row: String): Seq[Long] = {
      ListenerBus.drain(sc)
      progress.clear()
      assert(SparkEntry.queries(row)(s, SF001).count() > 0, s"$row is empty")
      ListenerBus.drain(sc)
      progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
        .sortBy(_.batchId).map(_.numInputRows)
    }
    def staged(): Map[String, Long] = {
      val dir = new java.io.File(StreamingOps.eventsInput(s, SF001))
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    sc.addSparkListener(listener)
    try {
      val first = dataBatches(parityRows.head)
      val layout = staged()
      assert(layout.size == 2, s"the staging holds ${layout.size} files")
      (first +: parityRows.tail.map(dataBatches)).zip(parityRows).foreach {
        case (batches, row) =>
          assert(batches.size == 2 && batches.head == even,
            s"$row ran data batches $batches; want 2, the first with " +
              s"the $even even-µs events")
      }
      oneBatchRows.foreach { row =>
        val batches = dataBatches(row)
        assert(batches.size == 1, s"$row ran data batches $batches; want 1")
      }
      assert(staged() == layout,
        "a row rebuilt or replaced the shared events staging")
    } finally sc.removeSparkListener(listener)
  }
}
