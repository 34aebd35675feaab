package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Funnel, StreamingOps}

/** SURVEY.md §5.3 — stream/batch parity and watermark semantics.
  *
  * Each test runs a StreamingOps transform (a) over a MemoryStream replay
  * of fixture events and (b) over the same rows as a batch DataFrame, and
  * asserts identical output — the incrementalization guarantee the batch
  * twins in SparkEntry.queries rely on. Late-data tests then check the one
  * place streaming legitimately diverges: rows behind the watermark.
  *
  * The suite is PARAMETERIZED over the state-store provider (VERDICT r9
  * #5): [[StreamingSpec]] runs it on the default HDFS-backed in-memory
  * store, [[StreamingRocksDbParitySpec]] re-runs the identical assertions
  * under RocksDB + changelog checkpointing (the production provider at
  * 100 TB of state). The expected values are shared — defined once, in
  * the test bodies here — so a per-provider semantic difference cannot
  * hide: either suite failing falsifies the provider-independence claim.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

abstract class StreamingParityBase extends AnyFunSuite {
  import TestSpark._

  /** Provider tag appended to every test name (drives suite reporting). */
  protected def providerTag: String
  /** Runs a test body with this suite's state-store provider active. */
  protected def withProvider[A](body: => A): A

  /** A parity test, tagged and wrapped with the suite's provider. */
  protected def ptest(name: String)(body: => Unit): Unit =
    test(s"$name [$providerTag]")(withProvider(body))

  /** ADVICE r12 #4: the watermark-derived state-bound asserts compare
    * state rows against lastProgress's REPORTED watermark, which is only
    * consistent with eviction once the watermark-advance no-data
    * micro-batch has run — behavior owned by
    * spark.sql.streaming.noDataMicroBatches.enabled (default true). Pin
    * it true for the assertion's session so a conf drift elsewhere can't
    * make eviction lag the reported watermark by one batch and flake the
    * bound. */
  protected def withNoDataMicroBatches[A](body: => A): A = {
    val k = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "true")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** Run a streaming transform over a one-batch MemoryStream replay and
    * collect the complete/append result. */
  private def runStream(rows: Seq[Ev], mode: OutputMode)(
      f: DataFrame => DataFrame): Array[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows)
    val name = s"graft_stream_${System.nanoTime()}"
    val q = f(mem.toDF()).writeStream.format("memory")
      .queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).collect()
  }

  private def sortedRows(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(_.toString).sorted.toSeq

  ptest("tumbling window agg: stream == batch") {
    import spark.implicits._
    val evs = fixtureEvents(400)
    val streamed = runStream(evs, OutputMode.Complete())(df =>
      StreamingOps.tumblingAgg(df))
    val batch = StreamingOps.tumblingAgg(evs.toDF()).collect()
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  ptest("session window agg: stream == batch") {
    import spark.implicits._
    val evs = fixtureEvents(400)
    val streamed = runStream(evs, OutputMode.Complete())(df =>
      StreamingOps.sessionAgg(df))
    val batch = StreamingOps.sessionAgg(evs.toDF()).collect()
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  ptest("stream-static join: stream == batch") {
    import spark.implicits._
    val evs = fixtureEvents(300)
    val cust = graft.sources.Tables.customer(spark, SF001)
    val streamed = runStream(evs, OutputMode.Append())(df =>
      StreamingOps.enrichWithCustomer(df, cust))
    val batch = StreamingOps.enrichWithCustomer(evs.toDF(), cust).collect()
    assert(streamed.nonEmpty)
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  ptest("stream-stream interval join: stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // fixture events are sparse (~1 pair within 10 min at sf0.001), so the
    // parity check runs with a 1-day band — same operator, denser output
    val evs = fixtureEvents(600)
    val clicksB = evs.filter(_.event_type == "click")
    val viewsB = evs.filter(_.event_type == "view")
    val band = 24 * 60

    val memC = MemoryStream[Ev]; memC.addData(clicksB)
    val memV = MemoryStream[Ev]; memV.addData(viewsB)
    val joined = StreamingOps.clickViewPairs(
      memC.toDF().withWatermark("ts", "30 minutes"),
      memV.toDF().withWatermark("ts", "30 minutes"), band)
    val name = s"graft_ssj_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name).collect()

    val batch = StreamingOps.clickViewPairs(clicksB.toDF(), viewsB.toDF(),
      band).collect()
    assert(batch.nonEmpty)
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  ptest("stream-stream LEFT OUTER join: stream == batch incl. null rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = fixtureEvents(600)
    val clicksB = evs.filter(_.event_type == "click")
    val viewsB = evs.filter(_.event_type == "view")
    val band = 24 * 60

    val memC = MemoryStream[Ev]; memC.addData(clicksB)
    val memV = MemoryStream[Ev]; memV.addData(viewsB)
    val joined = StreamingOps.clickViewPairsOuter(
      memC.toDF().withWatermark("ts", "30 minutes"),
      memV.toDF().withWatermark("ts", "30 minutes"), band)
    val name = s"graft_ssjo_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // Outer (null-view) rows only emit once the watermark PROVES no
      // match can still arrive; a far-future sentinel on both inputs
      // pushes the watermark past every real click so the tail flushes.
      val maxTs = evs.map(_.ts.getTime).max
      val sentinel = Ev(-999L, new Timestamp(maxTs + 7L * 24 * 3600 * 1000),
        -999L, "x", 0.0)
      memC.addData(sentinel); memV.addData(sentinel)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name).collect()
      .filter(_.getLong(0) != -999L) // drop the sentinel's own outer row

    val batch = StreamingOps.clickViewPairsOuter(clicksB.toDF(),
      viewsB.toDF(), band).collect()
    assert(batch.exists(_.isNullAt(1)),
      "fixture must produce at least one unmatched click or the outer " +
        "semantics are untested")
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  ptest("stream-stream FULL OUTER join: stream == batch, both-side eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = fixtureEvents(600)
    val clicksB = evs.filter(_.event_type == "click")
    val viewsB = evs.filter(_.event_type == "view")
    val band = 24 * 60

    val memC = MemoryStream[Ev]; memC.addData(clicksB)
    val memV = MemoryStream[Ev]; memV.addData(viewsB)
    val joined = StreamingOps.clickViewPairsFull(
      memC.toDF().withWatermark("ts", "30 minutes"),
      memV.toDF().withWatermark("ts", "30 minutes"), band)
    val name = s"graft_ssjf_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // BOTH sides' unmatched rows only emit when the watermark proves no
      // partner can still arrive; the sentinel flushes both state stores.
      val maxTs = evs.map(_.ts.getTime).max
      val sentinel = Ev(-999L, new Timestamp(maxTs + 7L * 24 * 3600 * 1000),
        -999L, "x", 0.0)
      memC.addData(sentinel); memV.addData(sentinel)
      q.processAllAvailable()
    } finally q.stop()
    // the sentinel pair matches itself, so one (-999,-999) row to drop
    val streamed = spark.table(name).collect()
      .filter(r => r.isNullAt(0) || r.getLong(0) != -999L)
      .filter(r => r.isNullAt(1) || r.getLong(1) != -999L)

    val batch = StreamingOps.clickViewPairsFull(clicksB.toDF(),
      viewsB.toDF(), band).collect()
    assert(batch.exists(_.isNullAt(1)),
      "fixture must produce an unmatched click (null view side)")
    assert(batch.exists(_.isNullAt(0)),
      "fixture must produce an unmatched view (null click side) or " +
        "view-state eviction emission is untested")
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  ptest("watermark drops late rows past the boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Int): Ev =
      Ev(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), 1L,
        "click", 1.0)
    val mem = MemoryStream[Ev]
    val agg = (df: DataFrame) => df.withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("n"))
    val name = s"graft_wm_${System.nanoTime()}"
    val q = agg(mem.toDF()).writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(ev(1, 1), ev(2, 5)) // window [10:00,10:10)
      q.processAllAvailable()
      mem.addData(ev(3, 30)) // advances watermark to 10:25, closes the window
      q.processAllAvailable()
      mem.addData(ev(4, 2)) // LATE: behind watermark — must be dropped
      q.processAllAvailable()
      mem.addData(ev(5, 59)) // advance watermark past the 10:30 window too
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val w1000 = Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L
    assert(out(w1000) == 2L, "late row must not be counted")
  }

  ptest("dropDuplicatesWithinWatermark removes injected dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = fixtureEvents(100)
    val withDups = evs ++ evs.take(30) // re-deliver 30 events
    val mem = MemoryStream[Ev]
    mem.addData(withDups)
    val name = s"graft_dd_${System.nanoTime()}"
    val q = mem.toDF().withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name).collect()
    assert(streamed.length == evs.length)
    assert(streamed.map(_.getAs[Long]("event_id")).distinct.length ==
      evs.length)
  }

  ptest("stateful funnel: flatMapGroupsWithState == batch mapGroups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = fixtureEvents(500)

    val mem = MemoryStream[Ev]
    mem.addData(evs)
    val typed = mem.toDS()
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("es"))
      .as[(Long, String, Long)]
    val streamed = typed.groupByKey(_._1)
      .flatMapGroupsWithState[Funnel.State,
          (Long, Long, Long, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[Funnel.State]) =>
          val st = it.foldLeft(state.getOption.getOrElse(Funnel.empty))(
            (acc, e) => Funnel.update(acc, e._2, e._3))
          state.update(st)
          Iterator.single(Funnel.finish(uid, st))
      }
    val name = s"graft_fn_${System.nanoTime()}"
    val q = streamed.toDF("user_id", "n_events", "n_clicks", "n_purchases",
        "clicks_before_first_purchase", "first_es", "last_es")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode re-emits per batch; keep the last emission per user.
    val streamedFinal = spark.table(name).collect()
      .groupBy(_.getAs[Long]("user_id")).map(_._2.last).toSeq

    val batch = evs.toDS()
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("es"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroups((uid, it) => Funnel.finish(uid,
        it.foldLeft(Funnel.empty)((st, e) => Funnel.update(st, e._2, e._3))))
      .toDF("user_id", "n_events", "n_clicks", "n_purchases",
        "clicks_before_first_purchase", "first_es", "last_es")
      .collect()
    assert(sortedRows(streamedFinal.toArray) == sortedRows(batch))
  }

  ptest("watermark eviction BOUNDS join state: late batches don't grow it") {
   withNoDataMicroBatches {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The 100 TB streaming claim is that state is bounded by the
    // watermark + interval condition, not by stream length. Feed the
    // same join several ADVANCING batches and assert the state-store
    // row count after the last batch is bounded by what one band's
    // worth of events can hold — i.e. eviction actually ran.
    val evs = fixtureEvents(600).sortBy(_.ts.getTime)
    val clicksB = evs.filter(_.event_type == "click")
    val viewsB = evs.filter(_.event_type == "view")
    val memC = MemoryStream[Ev]; val memV = MemoryStream[Ev]
    val joined = StreamingOps.clickViewPairs(
      memC.toDF().withWatermark("ts", "10 minutes"),
      memV.toDF().withWatermark("ts", "10 minutes"), 10)
    val name = s"graft_state_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // 4 time-ordered batches: each advances the watermark past the
      // previous batch's events, so earlier state must be evicted
      val quarters = (clicksB.grouped(math.max(1, clicksB.size / 4 + 1)) zip
        viewsB.grouped(math.max(1, viewsB.size / 4 + 1))).toSeq
      quarters.foreach { case (cs, vs) =>
        memC.addData(cs); memV.addData(vs)
        q.processAllAvailable()
      }
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      // Bound derived from the inputs + the query's reported watermark
      // (see intervalJoinRetainable) — without eviction state would hold
      // ~all 4 batches, far above it.
      val bound = ChainedStream.intervalJoinRetainable(q, clicksB, viewsB, 10)
      val total = clicksB.size + viewsB.size
      assert(bound < total, s"degenerate fixture: bound $bound >= $total")
      assert(stateRows < total,
        s"state holds $stateRows rows >= the whole input $total: no eviction")
      assert(stateRows <= bound,
        s"state $stateRows exceeds the watermark-derived bound $bound")
    } finally q.stop()
   }
  }

  ptest("watermarked 2h-window agg: closed windows evict, state stays bounded") {
   withNoDataMicroBatches {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // VERDICT r11 #3: `source_stream_window`'s registered row runs
    // complete mode (deterministic one-shot replay of a finite fixture),
    // and its Scaladoc claims "production adds withWatermark + append
    // mode so closed windows evict". Make that claim THIS operator's own
    // proof: drive the SAME shared shape (Scans.twoHourWindowAgg — the
    // one definition the registered row, its batch twin, and the RocksDB
    // proof all use) watermarked in append mode over advancing batches,
    // and assert (a) window state is bounded by the watermark, not by
    // stream length, and (b) every emitted (closed) window is
    // value-identical to the batch twin — eviction changed WHEN rows
    // emit, never WHAT they hold.
    val evs = fixtureEvents(600).sortBy(_.ts.getTime)
    val mem = MemoryStream[Ev]
    val agg = graft.operators.Scans.twoHourWindowAgg(
      mem.toDF().withWatermark("ts", "10 minutes"))
    val name = s"graft_wm_win_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // 4 time-ordered batches: each advances the watermark past the
      // previous batch's events, so earlier windows must close + evict.
      evs.grouped(math.max(1, evs.size / 4 + 1)).foreach { batch =>
        mem.addData(batch)
        q.processAllAvailable()
      }
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      // Distinct 2-hour windows in the input (epoch-aligned, exactly the
      // window() assignment) vs those still retainable under the query's
      // REPORTED watermark (append mode evicts a window once its end ≤
      // watermark; ≥ wm−1 ms keeps boundary windows out of the assert —
      // same slack rationale as intervalJoinRetainable).
      val twoH = 2L * 3600 * 1000
      def winEnd(t: Timestamp): Long = (t.getTime / twoH) * twoH + twoH
      val allWindows = evs.map(e => winEnd(e.ts)).distinct
      val wmStr = q.lastProgress.eventTime.get("watermark")
      assert(wmStr != null, "no watermark in the query's last progress")
      val wmMs = java.time.Instant.parse(wmStr).toEpochMilli
      val bound = allWindows.count(_ >= wmMs - 1)
      assert(bound < allWindows.size,
        s"degenerate fixture: watermark closed no window " +
          s"($bound of ${allWindows.size} retainable)")
      assert(stateRows < allWindows.size,
        s"state holds $stateRows rows >= all ${allWindows.size} windows: " +
          "no eviction ran")
      assert(stateRows <= bound,
        s"state $stateRows exceeds the watermark-derived bound $bound")
      // Emitted (closed) windows are value-identical to the batch twin —
      // closed windows saw ALL their rows (input was fed in ts order with
      // the watermark lagging), so any mismatch is a correctness bug, not
      // lateness.
      val batchByWs = graft.operators.Scans.twoHourWindowAgg(evs.toDF())
        .collect().map(r => r.getLong(0) -> r.toString).toMap
      val emitted = spark.table(name).collect()
      assert(emitted.length >= allWindows.size - bound,
        s"only ${emitted.length} windows emitted; ≥ " +
          s"${allWindows.size - bound} are strictly closed")
      emitted.foreach { r =>
        assert(batchByWs.get(r.getLong(0)).contains(r.toString),
          s"closed window ${r.getLong(0)} diverged from the batch twin: $r")
      }
    } finally q.stop()
   }
  }

  ptest("chained windowed aggs: two agg state stores, stream == batch") {
   withNoDataMicroBatches {
    // The agg→agg chain (multiple stateful AGGREGATIONS, append mode):
    // the registered batch twin is two folded hash aggregates; this
    // proves the STREAMING form runs the same chain with TWO windowed
    // state operators in one query and emits value-identical rollups.
    // Append windows only emit once the propagated watermark passes
    // them, so a far-future sentinel closes every real window; the
    // sentinel's own (unfinished) windows are filtered by timestamp.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = fixtureEvents(400)
    val maxMs = evs.map(_.ts.getTime).max
    val sentinel = Ev(999999L,
      new java.sql.Timestamp(maxMs + 8L * 3600 * 1000), 1L, "click", 0.0)
    val mem = MemoryStream[Ev]
    val agg = StreamingOps.chainedWindowAgg(
      mem.toDF().withWatermark("ts", "1 minute"))
    val name = s"graft_chain_agg_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 2,
        s"expected TWO aggregation state operators, got ${ops.length}: " +
          ops.map(_.operatorName).mkString(","))
      // every real hour-window starts strictly before the sentinel's
      val sentinelHourUs = (sentinel.ts.getTime / 3600000L) * 3600000000L
      val streamed = spark.table(name).collect()
        .filter(_.getLong(0) < sentinelHourUs)
      val batch = StreamingOps.chainedWindowAgg(evs.toDF()).collect()
      assert(streamed.nonEmpty, "no closed windows emitted")
      assert(streamed.map(_.toString).sorted.toSeq ==
        batch.map(_.toString).sorted.toSeq,
        "chained streaming rollup diverged from the batch twin")
    } finally q.stop()
   }
  }

  ptest("chained stateful: stream-stream join then windowed agg, ONE query") {
    // Two state stores in one streaming query: the interval join's
    // symmetric hash state feeding a tumbling window's agg state.
    // Protocol (sentinel flush, batch-twin parity) lives in ChainedStream
    // — ONE definition shared with the RocksDB and restart forms in
    // StreamingRecoverySpec.
    val o = ChainedStream.runChainedParity(fixtureEvents(600))
    assert(o.batch.nonEmpty, "densified join must produce pairs")
    assert(o.streamed == o.batch,
      s"chained stream (${o.streamed.length} windows) != batch twin " +
        s"(${o.batch.length})")
  }

  ptest("chained join->window state survives a checkpoint restart") {
    // VERDICT r7 #2, provider-default form: half the input, STOP, a new
    // query incarnation resumes from the checkpoint, rest of the input.
    // Committed offsets mean the first half is never re-read, so parity
    // with the batch twin proves join AND window state crossed the
    // incarnation boundary (the RocksDB + changelog form is in
    // StreamingRecoverySpec).
    val o = ChainedStream.runChainedParity(fixtureEvents(600), restart = true)
    assert(o.batch.nonEmpty, "densified join must produce pairs")
    assert(o.streamed == o.batch,
      "restarted chained stream != batch twin: state lost or re-emitted " +
        s"across the incarnation boundary (${o.streamed.length} vs " +
        s"${o.batch.length} windows)")
    assert(o.emittedBeforeRestart < o.streamed.size,
      s"all ${o.streamed.size} windows emitted before the restart " +
        s"(emittedBeforeRestart=${o.emittedBeforeRestart}) — the stop " +
        "boundary did not split the work, so this proved nothing")
  }

  ptest("incremental restart: a third run with no new files emits nothing") {
    import org.apache.spark.sql.streaming.Trigger
    // run the registered query (two AvailableNow incarnations), then
    // restart a THIRD incarnation on the same checkpoint with no new
    // input: the seen-files log must admit zero rows — the idempotence
    // a scheduled re-run relies on.
    val out1 = SparkEntry.queries("stream_incremental_restart")(spark, SF001)
      .collect()
    val base = graft.operators.Scans.scratch(spark, "increstart", SF001)
    val ev = graft.sources.Tables.events(spark, SF001)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val q = spark.readStream.schema(ev.schema).parquet(s"$base/in")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out3 = spark.read.parquet(s"$base/out").collect()
    assert(out3.length == out1.length,
      s"restart with no new files re-emitted rows: ${out3.length} vs ${out1.length}")
    // and the two-run result is exactly-once: event_ids are unique
    assert(out1.map(_.getLong(0)).distinct.length == out1.length)
  }
}

/** The §2.9 parity family on the DEFAULT (HDFS-backed in-memory) state
  * store provider — the out-of-the-box configuration. */
class StreamingSpec extends StreamingParityBase {
  protected def providerTag = "hdfs-default"
  protected def withProvider[A](body: => A): A = body

  test("file-source stream-stream join: state EVICTS mid-stream, " +
      "batches replay in time order, parity holds") {
    // The round-17 flagship witness: the registered source_stream_join
    // rows claim their retained state is bounded by rate × (band +
    // delay + chunk width), NOT by total input — i.e. the watermark
    // advances between the time-ordered micro-batches and the
    // symmetric-hash join actually evicts. This asserts the measurable
    // form: state-rows high-water strictly BELOW total input (a
    // single-batch replay, a stuck watermark, or broken eviction would
    // all push it to ≈ the full input), exactly the staged data batches
    // ran and then the trailing no-data batch that evicts and flushes,
    // and the emitted pairs equal the batch twin exactly.
    // (VERDICT r18 #6 cut the chunks from 4 to 2 — the minimum that
    // still proves cross-batch state, via pairs straddling the one
    // chunk boundary, AND mid-stream eviction, via the high-water
    // bound; every micro-batch is a fixed lifecycle bill paid by both
    // stream-join rows on every bench run.)
    // Progress events are read off the shared context bus
    // (onOtherEvent) because fileStreamJoin runs on a session clone —
    // a session-scoped spark.streams listener would see nothing.
    import TestSpark._
    val maxState = new java.util.concurrent.atomic.AtomicLong
    val inputRows = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case p: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryProgressEvent
              if p.progress.name != null
                && p.progress.name.startsWith("graft_sj_inner") =>
            inputRows.add(p.progress.numInputRows)
            val ops = p.progress.stateOperators
            if (ops != null && ops.nonEmpty) {
              val rows = ops.map(_.numRowsTotal).sum
              maxState.updateAndGet(c => math.max(c, rows)); ()
            }
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // staging invariants first: sjChunks one-file pieces (ADVICE r19:
      // derive from the constant, so a re-tune of sjChunks can't
      // silently drift the spec), strictly ascending mtimes = admission
      // order, and the negative-id sentinel pair in the LAST piece only
      val nPieces = StreamingOps.sjChunks
      val inDir = StreamingOps.sjInput(spark, SF001)
      val pieces = new java.io.File(inDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
      assert(pieces.length == nPieces,
        s"expected $nPieces staged pieces: ${pieces.length}")
      assert(pieces.map(_.lastModified).distinct.length == nPieces,
        "mtimes must be strictly ascending")
      val sentinelsPerPiece = pieces.toSeq.map { f =>
        spark.read.parquet(f.toString).filter(col("event_id") < 0).count()
      }
      assert(sentinelsPerPiece == Seq.fill(nPieces - 1)(0L) :+ 2L,
        s"sentinel pair must sit in the last piece only: $sentinelsPerPiece")

      val got = StreamingOps.fileStreamJoin(spark, SF001, "inner")
        .select("click_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ev = graft.sources.Tables.events(spark, SF001)
      val want = StreamingOps.clickViewPairs(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "view"))
        .select("click_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"stream/batch parity broke: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      Thread.sleep(500) // drain async listener delivery
      val totalCv = ev.filter(col("event_type").isin("click", "view")).count()
      import scala.jdk.CollectionConverters._
      val perBatch = inputRows.asScala.toSeq
      assert(perBatch.count(_ > 0) == nPieces,
        s"expected exactly $nPieces data micro-batches: $perBatch")
      assert(perBatch.count(_ == 0) >= 1,
        s"expected a trailing no-data micro-batch: $perBatch")
      assert(maxState.get > 0, "no state ever reported — witness is vacuous")
      assert(maxState.get < totalCv,
        s"state high-water ${maxState.get} >= total input $totalCv — " +
          "eviction never ran mid-stream (stuck watermark or one-batch replay)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("file-source LEFT OUTER stream-stream join == batch twin; " +
      "one RocksDB store instance per partition") {
    // The outer row is the one the sentinel exists for: its unmatched
    // clicks only emit once the watermark passes them, so the last
    // chunk's tail flushes in the trailing no-data batch. Exact parity
    // with the batch twin (nulls and multiplicities included) pins that
    // flush. The progress witness pins the state layout fileStreamJoin
    // sets on its session clone: every join batch is served by RocksDB
    // and commits ONE store instance per shuffle partition (join state
    // format 3 — format 2 would report four per partition).
    import TestSpark._
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StateOperatorProgress]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case p: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryProgressEvent
              if p.progress.name != null
                && p.progress.name.startsWith("graft_sj_left_outer") =>
            Option(p.progress.stateOperators).foreach(_.foreach(ops.add))
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def rows(df: DataFrame): Seq[String] =
        df.select("click_id", "view_id", "user_id", "click_us", "view_us")
          .collect().map(_.toString).toSeq.sorted
      val got = rows(StreamingOps.fileStreamJoin(spark, SF001, "left_outer"))
      val ev = graft.sources.Tables.events(spark, SF001)
      val want = rows(StreamingOps.clickViewPairsOuter(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view")))
      assert(want.exists(_.contains("null")),
        "fixture has no unmatched click — the outer flush is untested")
      assert(got == want, s"stream/batch outer parity broke: " +
        s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
      Thread.sleep(500) // drain async listener delivery
      import scala.jdk.CollectionConverters._
      val seen = ops.asScala.toSeq
      assert(seen.nonEmpty, "no join state operator progress observed")
      seen.foreach { so =>
        assert(so.customMetrics.asScala.keys
            .exists(_.toLowerCase.contains("rocksdb")),
          s"join state not served by RocksDB: " +
            s"${so.customMetrics.asScala.keys.toSeq.sorted.take(10)}")
        assert(so.numStateStoreInstances == so.numShufflePartitions,
          s"${so.numStateStoreInstances} store instances for " +
            s"${so.numShufflePartitions} partitions — expected one each")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stream_update_mode: unchanged groups are ABSENT from batch 1") {
    // The update-vs-complete witness, on a SYNTHETIC staging where the
    // interesting key classes are guaranteed (the sf0.001 fixture gives
    // every user events of both parities, so an absence assertion on the
    // registered layout would be vacuous): u1 only in batch 0, u2 only
    // in batch 1, u3 in both. Update mode must emit exactly
    // b0 = {u1:1, u3:1} and b1 = {u2:1, u3:2} — u1's absence from b1 is
    // the behavior complete mode would violate.
    import TestSpark._
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_updmode_wit").toFile
    try {
      val in = new java.io.File(root, "in"); in.mkdirs()
      def writeBatch(rows: Seq[(Long, Long)], name: String,
          mtime: Long): Unit = {
        val stage = java.nio.file.Files
          .createTempDirectory("graft_updmode_stage")
        rows.toDF("user_id", "es").coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val part = new java.io.File(stage.toString).listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(fail(s"no part file under $stage"))
        val dest = new java.io.File(in, name)
        java.nio.file.Files.move(part.toPath, dest.toPath)
        assert(dest.setLastModified(mtime), s"cannot stamp mtime on $dest")
        graft.operators.Scans.rmRecursive(new java.io.File(stage.toString))
      }
      val t0 = System.currentTimeMillis() - 60000L
      writeBatch(Seq((1L, 10L), (3L, 12L)), "b0.parquet", t0)
      writeBatch(Seq((2L, 21L), (3L, 23L)), "b1.parquet", t0 + 10000L)
      val ledger = StreamingOps
        .updateModeLedger(spark, in.toString, s"$root/run")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(ledger == Set((0L, 1L, 1L), (0L, 3L, 1L),
        (1L, 2L, 1L), (1L, 3L, 2L)),
        s"update-mode ledger mismatch: $ledger — a (1,1,1) entry would " +
          "mean complete-mode re-emission of the unchanged group u1")
    } finally graft.operators.Scans.rmRecursive(root)
  }

  test("foreachBatch upsert is split-invariant and replay-idempotent") {
    // The registered row drives StreamingOps.upsertMergeBatch over the
    // fixed two-file parity staging; this pins the two invariants that
    // staging cannot vary: (a) SPLIT-INVARIANCE — folding the same rows
    // in as 1, 2, or 3 micro-batches with different key interleavings
    // must land the identical keyed state (merge is a semigroup fold:
    // max ∘ max and sum ∘ sum), and (b) REPLAY-IDEMPOTENCE — re-merging
    // an already-ledgered batch id must be a no-op (foreachBatch is
    // at-least-once; without the ledger the running count double-bills).
    import TestSpark._
    import spark.implicits._
    val rows = Seq( // (user_id, es)
      (1L, 100L), (2L, 200L), (1L, 300L), (3L, 50L), (2L, 150L),
      (1L, 250L), (3L, 400L))
    def df(rs: Seq[(Long, Long)]): DataFrame = rs.toDF("user_id", "es")
    def runSplit(tag: String, batches: Seq[Seq[(Long, Long)]])
        : Set[(Long, Long, Long)] = {
      val out = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_p${graft.operators.Scans.jvmTag}_fbu_test_$tag")
      graft.operators.Scans.rmRecursive(out)
      java.nio.file.Files.createDirectories(out.toPath)
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          assert(StreamingOps.upsertMergeBatch(out.toString, df(b), i.toLong),
            s"fresh batch $i was skipped as a replay")
        }
        spark.read.parquet(s"$out/state")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
      } finally graft.operators.Scans.rmRecursive(out)
    }
    val expected = Set((1L, 300L, 3L), (2L, 200L, 2L), (3L, 400L, 2L))
    assert(runSplit("one", Seq(rows)) == expected, "single-batch fold")
    assert(runSplit("two", Seq(rows.take(4), rows.drop(4))) == expected,
      "two-batch fold diverged from the single-batch state")
    assert(runSplit("three",
      Seq(rows.take(2), rows.slice(2, 5), rows.drop(5))) == expected,
      "three-batch fold diverged from the single-batch state")
    // replay-idempotence: merge batch 0 twice, then batch 1 — the replay
    // must be skipped (returns false) and the final state unaffected
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_p${graft.operators.Scans.jvmTag}_fbu_test_replay")
    graft.operators.Scans.rmRecursive(out)
    java.nio.file.Files.createDirectories(out.toPath)
    try {
      assert(StreamingOps.upsertMergeBatch(out.toString, df(rows.take(4)), 0L))
      assert(!StreamingOps.upsertMergeBatch(out.toString, df(rows.take(4)), 0L),
        "replayed batch id 0 was merged again — double-billed counts")
      assert(StreamingOps.upsertMergeBatch(out.toString, df(rows.drop(4)), 1L))
      val state = spark.read.parquet(s"$out/state")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(state == expected,
        s"state after a replayed batch diverged: $state")
    } finally graft.operators.Scans.rmRecursive(out)
  }

  test("foreachBatch upsert recovers a crash between the two state renames") {
    // Round 15 moved the batch-id ledger INSIDE the state dir so the
    // markers and the merged parquet publish in one atomic rename. The
    // one remaining window is between "base retired aside" and "tmp
    // renamed in": base is absent but tmp holds the fully-committed
    // merge (parquet + carried-forward markers + this batch's marker).
    // The entry-point recovery branch must finish the publish and
    // report the batch as a REPLAY (false), leaving state identical.
    import TestSpark._
    import spark.implicits._
    val rows = Seq((1L, 100L), (2L, 200L), (1L, 300L), (3L, 50L),
      (2L, 150L), (1L, 250L), (3L, 400L))
    def df(rs: Seq[(Long, Long)]): DataFrame = rs.toDF("user_id", "es")
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_p${graft.operators.Scans.jvmTag}_fbu_test_crash")
    graft.operators.Scans.rmRecursive(out)
    java.nio.file.Files.createDirectories(out.toPath)
    try {
      assert(StreamingOps.upsertMergeBatch(out.toString, df(rows.take(4)), 0L))
      assert(StreamingOps.upsertMergeBatch(out.toString, df(rows.drop(4)), 1L))
      val expected = spark.read.parquet(s"$out/state")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // fabricate the crash window from the committed artifacts: the
      // post-batch-1 base IS what tmp_1 held at the moment of the crash
      val base = new java.io.File(out, "state")
      val tmp = new java.io.File(out, "tmp_1")
      graft.operators.Scans.rmRecursive(tmp)
      assert(base.renameTo(tmp), "test setup: could not stage the window")
      // the realistic window ALSO has the retired pre-merge base on disk
      // as old_1 (base was renamed aside before tmp was renamed in);
      // recovery must sweep it or every such crash permanently leaks a
      // full state copy (ADVICE r15 #1/#4). Its content is irrelevant to
      // the sweep, so stage a stand-in directory with a file inside.
      val old1 = new java.io.File(out, "old_1")
      java.nio.file.Files.createDirectories(old1.toPath)
      java.nio.file.Files.write(new java.io.File(old1, "part-0.parquet").toPath,
        Array[Byte](1, 2, 3))
      assert(!StreamingOps.upsertMergeBatch(out.toString, df(rows.drop(4)), 1L),
        "recovery publish must report the batch as a replay, not re-merge")
      assert(!old1.exists(),
        "retired old_1 state copy was not swept on recovery — each such " +
          "crash leaks a full copy of the keyed state")
      val recovered = spark.read.parquet(s"$out/state")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(recovered == expected,
        s"recovered state diverged: $recovered vs $expected")
      // and the ledger survived the round-trip: batch 0 is still a replay
      assert(!StreamingOps.upsertMergeBatch(out.toString, df(rows.take(4)), 0L),
        "carried-forward marker lost in recovery — batch 0 re-merged")
    } finally graft.operators.Scans.rmRecursive(out)
  }
}

/** The identical §2.9 parity family under RocksDB + changelog
  * checkpointing (TestSpark.withRocksDb — the one shared conf swap, so
  * the deployment configuration cannot drift between suites). Every
  * assertion and expected value is inherited unchanged from
  * [[StreamingParityBase]]: green here means the provider swap changed
  * NOTHING observable, which is the provider-independence claim SURVEY
  * §2.9 makes. The witness test below proves the swap was in effect for
  * this suite (the provider is invisible in the logical plan — state
  * operator custom metrics are the only honest evidence), so the other
  * 12 tests' green cannot come from silently running on the default
  * store. */
class StreamingRocksDbParitySpec extends StreamingParityBase {
  import scala.jdk.CollectionConverters._
  import TestSpark._

  protected def providerTag = "rocksdb"
  protected def withProvider[A](body: => A): A = TestSpark.withRocksDb(body)

  ptest("provider witness: state operators report rocksdb metrics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(fixtureEvents(200))
    val name = s"graft_rockswit_${System.nanoTime()}"
    val q = StreamingOps.tumblingAgg(mem.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val metrics = q.lastProgress.stateOperators.head.customMetrics.asScala
      assert(metrics.keys.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb custom metrics — the provider swap is NOT in " +
          s"effect for this suite: ${metrics.keys.toSeq.sorted.take(10)}")
    } finally q.stop()
  }
}
