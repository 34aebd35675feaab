package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Funnel, FunnelProcessor}

/** Spark 4 transformWithState coverage for the funnel state machine
  * (StatefulProcessor + RocksDB state store) — the successor API to
  * flatMapGroupsWithState, registered since round 13 as
  * `stream_transform_with_state` (the processor itself lives in
  * graft.streaming.FunnelProcessor). Parity with the batch twin, state
  * survival across a checkpoint restart, per-state TTL eviction, and
  * the provider matrix (RocksDB mandated, HDFS-backed default rejected
  * loudly) are each pinned here. */
class TransformWithStateSpec extends AnyFunSuite {
  import TestSpark._

  // TWS requires the RocksDB provider; every test wears the shared
  // TestSpark.withRocksDb swap (provider + changelog checkpointing).

  test("transformWithState funnel == batch mapGroups funnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val evs = graft.sources.Tables.events(spark, SF001)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("es"))
        .as[(Long, String, Long)].collect().toSeq

      val mem = MemoryStream[(Long, String, Long)]
      mem.addData(evs)
      val streamed = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new FunnelProcessor, TimeMode.None(),
          OutputMode.Update(),
          Encoders.product[(Long, Long, Long, Long, Long, Long, Long)])
      val name = s"graft_tws_${System.nanoTime()}"
      val q = streamed.toDF("user_id", "n_events", "n_clicks", "n_purchases",
          "clicks_before_first_purchase", "first_es", "last_es")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(name).collect()
        .groupBy(_.getAs[Long]("user_id")).map(_._2.last)
        .map(_.toString).toSeq.sorted

      val batch = evs.toDS()
        .groupByKey(_._1)
        .mapGroups((uid, it) => Funnel.finish(uid,
          it.foldLeft(Funnel.empty)((st, e) => Funnel.update(st, e._2, e._3))))
        .toDF("user_id", "n_events", "n_clicks", "n_purchases",
          "clicks_before_first_purchase", "first_es", "last_es")
        .collect().map(_.toString).toSeq.sorted
      assert(got == batch)
    }
  }

  test("transformWithState state survives a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Round-8 restart proof for the successor stateful API: half the
    // events feed incarnation one, the query STOPS, a new query object
    // resumes from the checkpoint (RocksDB + changelog) and feeds the
    // rest. A user whose events span the boundary only produces the
    // correct final funnel row if incarnation two started from the
    // RESTORED ValueState, because committed offsets mean its first-half
    // events are never re-read. Update-mode emissions are captured per
    // batch via foreachBatch (the memory sink dies with the query); the
    // last emission per user must equal the batch twin.
    val evs = graft.sources.Tables.events(spark, SF001)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("es"))
      .as[(Long, String, Long)].collect().toSeq
    val (h1, h2) = evs.splitAt(evs.size / 2)
    val spanning = h1.map(_._1).toSet & h2.map(_._1).toSet
    assert(spanning.nonEmpty,
      "no user spans the restart boundary — the split proves nothing")
    withRocksDb {
      val base = TestSpark.tempDir("graft_tws_restart").toString
      val out = s"$base/out"
      val mem = MemoryStream[(Long, String, Long)]
      def start() = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new FunnelProcessor, TimeMode.None(),
          OutputMode.Update(),
          Encoders.product[(Long, Long, Long, Long, Long, Long, Long)])
        .toDF("user_id", "n_events", "n_clicks", "n_purchases",
          "clicks_before_first_purchase", "first_es", "last_es")
        .writeStream
        .option("checkpointLocation", s"$base/chk")
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, id: Long) =>
            df.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(out)
        }
        .outputMode(OutputMode.Update()).start()
      mem.addData(h1)
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      mem.addData(h2)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      // on-disk witness that changelog checkpointing was live
      assert(ChainedStream.countFiles(s"$base/chk/state", ".changelog") > 0,
        "no .changelog files in the state checkpoint")

      val emissions = spark.read.parquet(out)
      val lastPerUser = emissions
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("batch_id").desc)))
        .filter(col("rk") === 1).drop("rk", "batch_id")
      val got = lastPerUser.collect().map(_.toString).sorted.toSeq

      val batch = evs.toDS()
        .groupByKey(_._1)
        .mapGroups((uid, it) => Funnel.finish(uid,
          it.foldLeft(Funnel.empty)((st, e) => Funnel.update(st, e._2, e._3))))
        .toDF("user_id", "n_events", "n_clicks", "n_purchases",
          "clicks_before_first_purchase", "first_es", "last_es")
        .collect().map(_.toString).sorted.toSeq
      assert(got == batch,
        "restarted transformWithState != batch twin: ValueState lost " +
          "across the incarnation boundary")
    }
  }

  test("a PENDING event-time timer survives a kill/restart and fires " +
      "exactly once (VERDICT r15 #3)") {
    // The last stateful corner without a kill/restart witness: key 1
    // opens a session in incarnation ONE (timer registered at
    // last+gap, watermark still below it — the timer is PENDING in
    // the checkpoint when the query is killed). Incarnation TWO never
    // receives key-1 input; it only advances the watermark with
    // sentinel keys. Key 1's session row can therefore only appear if
    // the REGISTERED TIMER itself was restored from the checkpoint
    // and fired — and it must appear exactly once. A third incarnation
    // advances the watermark further and must emit nothing more for
    // key 1 (the fired timer and its state were cleared in the
    // checkpoint, not just in memory). TWS mandates the RocksDB
    // provider in this image (HDFS-backed default rejected — pinned
    // below), so the kill/restart matrix for this family is
    // RocksDB + changelog.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SessionTimerProcessor
    val gap = 1800000000L // 30 min in µs
    withRocksDb {
      val base = TestSpark.tempDir("graft_tws_timer_restart").toString
      val out = s"$base/out"
      val mem = MemoryStream[(Long, java.sql.Timestamp)]
      def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
      def start() = mem.toDS().toDF("user_id", "ts")
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), unix_micros(col("ts")).as("es"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor(gap),
          TimeMode.EventTime(), OutputMode.Append(),
          Encoders.product[(Long, Long, Long, Long)])
        .toDF("user_id", "session_start_us", "session_end_us", "n_events")
        .writeStream
        .option("checkpointLocation", s"$base/chk")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(out)
        }
        .outputMode(OutputMode.Append()).start()
      // incarnation 1: open key 1's session; timer pends at 35 min,
      // watermark only reaches 5 min; kill between micro-batches
      mem.addData(Seq((1L, ts(0)), (1L, ts(5))))
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // incarnation 2: watermark-only traffic; the pending timer must
      // fire from the RESTORED registration
      mem.addData(Seq((8L, ts(120))))
      val q2 = start()
      try {
        q2.processAllAvailable()            // batch ends, wm -> 120 min
        mem.addData(Seq((8L, ts(121))))     // firing batch (wm > 35 min)
        q2.processAllAvailable()
      } finally q2.stop()
      assert(ChainedStream.countFiles(s"$base/chk/state", ".changelog") > 0,
        "no .changelog files — changelog checkpointing was not live")
      val afterTwo = spark.read.parquet(out)
        .filter(col("user_id") === 1).collect()
      assert(afterTwo.length == 1,
        s"expected exactly one timer-fired session for key 1 after the " +
          s"restart, got ${afterTwo.length} — the pending timer was " +
          "lost (0) or double-fired (2)")
      val r = afterTwo(0)
      assert(r.getAs[Long]("session_start_us") == 0L
          && r.getAs[Long]("session_end_us") == 5L * 60000000L + gap
          && r.getAs[Long]("n_events") == 2L,
        s"restored timer closed a wrong session: $r")
      // incarnation 3: nothing left to fire for key 1
      mem.addData(Seq((8L, ts(300))))
      val q3 = start()
      try {
        q3.processAllAvailable()
        mem.addData(Seq((8L, ts(301))))
        q3.processAllAvailable()
      } finally q3.stop()
      assert(spark.read.parquet(out)
          .filter(col("user_id") === 1).count() == 1,
        "the fired timer re-fired after a second restart — its deletion " +
          "never reached the checkpoint")
      graft.operators.Scans.rmRecursive(new java.io.File(base))
    }
  }

  test("MapState survives a kill/restart: counters neither lost nor " +
      "doubled (VERDICT r15 #3)") {
    // TypeCountsProcessor (the registered stream_tws_mapstate core)
    // under the kill/restart protocol: half the fixture events feed
    // incarnation one, the query stops BETWEEN micro-batches with the
    // per-(user,type) maps populated, and a new query object resumes
    // from the checkpoint for the second half. Committed offsets mean
    // the first half is never re-read, so the final counts are correct
    // ONLY if incarnation two started from the restored MapState:
    // a reset-to-empty bug undercounts every spanning pair, a replay
    // bug overcounts it. The last emission per (user, type) must equal
    // the batch GROUP BY.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TypeCountsProcessor
    val evs = graft.sources.Tables.events(spark, SF001)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("es"))
      .as[(Long, String, Long)].collect().toSeq
    val (h1, h2) = evs.splitAt(evs.size / 2)
    val spanning = h1.map(e => (e._1, e._2)).toSet &
      h2.map(e => (e._1, e._2)).toSet
    assert(spanning.nonEmpty,
      "no (user, type) pair spans the restart boundary — the split " +
        "proves nothing about MapState restoration")
    withRocksDb {
      val base = TestSpark.tempDir("graft_tws_map_restart").toString
      val out = s"$base/out"
      val mem = MemoryStream[(Long, String, Long)]
      def start() = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new TypeCountsProcessor, TimeMode.None(),
          OutputMode.Update(),
          Encoders.product[(Long, String, Long)])
        .toDF("user_id", "event_type", "n")
        .writeStream
        .option("checkpointLocation", s"$base/chk")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(out)
        }
        .outputMode(OutputMode.Update()).start()
      mem.addData(h1)
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      mem.addData(h2)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val lastPer = spark.read.parquet(out)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"), col("event_type"))
            .orderBy(col("batch_id").desc)))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      val batch = evs.groupBy(e => (e._1, e._2))
        .map { case ((u, t), es) => (u, t, es.size.toLong) }.toSet
      assert(lastPer == batch,
        "restarted MapState counts != batch GROUP BY: spanning pairs " +
          s"diverged (e.g. ${(batch -- lastPer).take(3)} expected, " +
          s"${(lastPer -- batch).take(3)} got)")
      graft.operators.Scans.rmRecursive(new java.io.File(base))
    }
  }

  test("registered row == flatMapGroupsWithState row, and spans batches") {
    // The round-13 registered query (real file-source stream, RocksDB
    // pinned internally, maxFilesPerTrigger=1) must equal the
    // stream_stateful_custom batch twin row-for-row — same funnel, same
    // oracle SQL, different stateful API. Also guard the fixture
    // property the cross-batch claim rests on: some user has events of
    // both µs-parities (the file split), so ValueState really carried.
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, SF001)
      .select(col("user_id"), unix_micros(col("ts")).as("es"))
      .as[(Long, Long)].collect()
    val spanning = ev.filter(_._2 % 2 == 0).map(_._1).toSet &
      ev.filter(_._2 % 2 != 0).map(_._1).toSet
    assert(spanning.nonEmpty,
      "no user spans the parity split — the registered row would not " +
        "exercise cross-batch state")
    val tws = SparkEntry.queries("stream_transform_with_state")(spark, SF001)
      .collect().map(_.toString).toSeq
    val fmgws = SparkEntry.queries("stream_stateful_custom")(spark, SF001)
      .collect().map(_.toString).toSeq
    assert(tws == fmgws,
      "transformWithState registered row != stream_stateful_custom twin")
  }

  test("an event-time timer fires on watermark advance with NO input for its key") {
    // The distinguishing TWS feature over flatMapGroupsWithState
    // (VERDICT r13 #1): a registered per-key timer whose expiry callback
    // runs when the WATERMARK passes it — driven by OTHER keys' events.
    // Key 1 opens a session in batch 1 and never appears again; batches
    // 2–3 carry only key 2, advancing the watermark past key 1's
    // (last event + gap). SessionTimerProcessor.handleInputRows emits
    // nothing, so key 1's emitted session row can ONLY have come from
    // handleExpiredTimer — the timer-actually-fired witness.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SessionTimerProcessor
    withRocksDb {
      val mem = MemoryStream[(Long, java.sql.Timestamp)]
      def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
      val name = s"graft_tws_timer_${System.nanoTime()}"
      val q = mem.toDS().toDF("user_id", "ts")
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), unix_micros(col("ts")).as("es"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor(1800000000L),
          TimeMode.EventTime(), OutputMode.Append(),
          Encoders.product[(Long, Long, Long, Long)])
        .toDF("user_id", "session_start_us", "session_end_us", "n_events")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(Seq((1L, ts(0)), (1L, ts(5))))
        q.processAllAvailable()
        mem.addData(Seq((2L, ts(120)))) // watermark → 120 min after batch
        q.processAllAvailable()
        mem.addData(Seq((2L, ts(240)))) // batch runs with wm=120 > 35+ε
        q.processAllAvailable()
        val rows = spark.table(name)
          .filter(col("user_id") === 1).collect()
        assert(rows.length == 1,
          s"expected exactly one closed session for key 1, got " +
            s"${rows.length} — timer did not fire (or fired twice)")
        val r = rows(0)
        assert(r.getAs[Long]("session_start_us") == 0L
            && r.getAs[Long]("session_end_us") == 5L * 60000000L + 1800000000L
            && r.getAs[Long]("n_events") == 2L,
          s"timer-closed session has wrong bounds/count: $r")
      } finally q.stop()
    }
  }

  test("timer sessionization gap boundary: exactly-gap splits, gap−1µs merges") {
    // The >= gap convention at µs precision — the classic off-by-one in
    // any sessionizer, and the exact convention the DuckDB oracle and
    // session_window share: two events spaced EXACTLY the 30-min gap
    // must land in two sessions; spaced gap−1µs, in one.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SessionTimerProcessor
    val gap = 1800000000L
    withRocksDb {
      val mem = MemoryStream[(Long, Long)]
      val name = s"graft_tws_gap_${System.nanoTime()}"
      val q = mem.toDS().toDF("user_id", "es_in")
        .select(col("user_id"), timestamp_micros(col("es_in")).as("ts"))
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), unix_micros(col("ts")).as("es"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor(gap),
          TimeMode.EventTime(), OutputMode.Append(),
          Encoders.product[(Long, Long, Long, Long)])
        .toDF("user_id", "session_start_us", "session_end_us", "n_events")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(Seq((1L, 0L), (1L, gap), (2L, 0L), (2L, gap - 1)))
        q.processAllAvailable()
        mem.addData(Seq((9L, 86400000000L))) // sentinel advances watermark
        q.processAllAvailable()
        mem.addData(Seq((9L, 86400000001L))) // firing batch (wm = 1 day)
        q.processAllAvailable()
        val got = spark.table(name).filter(col("user_id") < 9)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
        assert(got == Seq(
          (1L, 0L, gap, 1L),               // exactly-gap: first closes alone
          (1L, gap, 2 * gap, 1L),          // ...second is its own session
          (2L, 0L, gap - 1 + gap, 2L)),    // gap−1µs: one 2-event session
          s"gap-boundary sessionization wrong: $got")
      } finally q.stop()
    }
  }

  test("stream_tws_timers == batch session_window sessionization") {
    // The registered timer row must equal Spark's own session_window
    // batch aggregation (the stream_session twin projected to the timer
    // row's columns) — two independent sessionization implementations,
    // one gap convention. Also pin the staging property the cross-batch
    // claim rests on: some user has events on BOTH sides of the
    // chronological cut, so the open session genuinely spans micro-batch
    // boundaries and ListState must carry.
    import spark.implicits._
    val es = graft.sources.Tables.events(spark, SF001)
      .select(col("user_id"), unix_micros(col("ts")).as("es"))
      .as[(Long, Long)].collect()
    val (mn, mx) = (es.map(_._2).min, es.map(_._2).max)
    val cut = mn + (mx - mn) / 2
    val spanning = es.filter(_._2 < cut).map(_._1).toSet &
      es.filter(_._2 >= cut).map(_._1).toSet
    assert(spanning.nonEmpty,
      "no user spans the chronological cut — the registered row would " +
        "not exercise cross-batch ListState carriage")
    val got = SparkEntry.queries("stream_tws_timers")(spark, SF001)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty, "timer row emitted nothing — no timer ever fired")
    val batch = graft.streaming.StreamingOps.sessionAgg(
        graft.sources.Tables.events(spark, SF001))
      .select(col("user_id"), col("session_start_us"),
        col("session_end_us"), col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))
      .collect().map(_.toString).toSeq
    assert(got == batch,
      "timer-closed sessions != batch session_window sessionization")
  }

  test("stream_tws_mapstate == batch group counts, and pairs span batches") {
    // MapState variant: final per-(user, type) counters from the
    // registered row must equal a plain batch GROUP BY — and some
    // (user, type) pair must have events of both µs-parities (the
    // eventsInput file split), so a correct final count proves the map
    // carried across the micro-batch boundary (counts are additive; a
    // reset-to-empty bug undercounts every spanning pair).
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, SF001)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("es"))
      .as[(Long, String, Long)].collect()
    val spanningPairs = ev.filter(_._3 % 2 == 0).map(e => (e._1, e._2)).toSet &
      ev.filter(_._3 % 2 != 0).map(e => (e._1, e._2)).toSet
    assert(spanningPairs.nonEmpty,
      "no (user, type) pair spans the parity split — the MapState row " +
        "would not exercise cross-batch map carriage")
    val got = SparkEntry.queries("stream_tws_mapstate")(spark, SF001)
      .collect().map(_.toString).toSeq
    val batch = graft.sources.Tables.events(spark, SF001)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("event_type"))
      .collect().map(_.toString).toSeq
    assert(got == batch, "MapState final counters != batch GROUP BY")
  }

  test("per-state TTL evicts an idle funnel; NONE retains it") {
    // The TTL axis of the new API (TTLConfig + TimeMode.ProcessingTime):
    // ONE continuous query, two micro-batches (ADVICE r13 #4 — no
    // checkpoint restart is involved; the query object stays live
    // throughout). Batch 1 writes key 1's funnel; after sleeping well
    // past the TTL, batch 2 touches the key again and must observe NULL
    // state — its emitted row restarts counting from the new rows only.
    // The control run (TTLConfig.NONE, same two batches, same sleep) must
    // instead accumulate — separating "TTL evicted" from "state was
    // never carried". One-directional timing: the test only relies on
    // the sleep EXCEEDING the TTL (robust), never on racing under it.
    // Trigger.AvailableNow incarnations self-terminate; a long-lived
    // query + processAllAvailable does NOT quiesce under
    // TimeMode.ProcessingTime (the processing-time clock keeps
    // scheduling batches — observed as a checkpoint-rename busy loop).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.time.Duration
    import org.apache.spark.sql.streaming.Trigger
    // Lifecycle note (learned the hard way): under TimeMode.ProcessingTime
    // the engine schedules micro-batches continuously (that is what lets
    // TTL/timers fire without new input), so BOTH processAllAvailable and
    // Trigger.AvailableNow's self-termination never quiesce — drive the
    // query with a plain long-lived trigger and POLL the memory sink for
    // the expected emission instead.
    def awaitTrue(what: String)(pred: => Boolean): Unit = {
      val end = System.currentTimeMillis + 60000
      while (System.currentTimeMillis < end && !pred) Thread.sleep(200)
      assert(pred, s"timed out waiting for $what")
    }
    def run(ttl: TTLConfig): Seq[(Long, Long)] = withRocksDb {
      val mem = MemoryStream[(Long, String, Long)]
      val name = s"graft_tws_ttl_${System.nanoTime()}"
      val q = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new FunnelProcessor(ttl),
          TimeMode.ProcessingTime(), OutputMode.Update(),
          Encoders.product[(Long, Long, Long, Long, Long, Long, Long)])
        .toDF("user_id", "n_events", "n_clicks", "n_purchases",
          "clicks_before_first_purchase", "first_es", "last_es")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      def emitted(): Seq[(Long, Long)] =
        spark.table(name).select("user_id", "n_events")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      try {
        mem.addData(Seq((1L, "click", 100L), (1L, "click", 200L)))
        awaitTrue("the batch-1 emission (1, 2)")(
          emitted().contains((1L, 2L)))
        Thread.sleep(2000) // >> the 500 ms TTL below
        mem.addData(Seq((1L, "view", 300L)))
        awaitTrue("a batch-2 emission for user 1")(
          emitted().exists(e => e._1 == 1L && e._2 != 2L))
        emitted()
      } finally q.stop()
    }
    val evicted = run(TTLConfig(Duration.ofMillis(500)))
    assert(evicted.contains((1L, 2L)) && evicted.contains((1L, 1L)),
      s"TTL run: expected incarnation-1 n_events=2 then a RESTARTED " +
        s"n_events=1 after expiry, got $evicted")
    val retained = run(TTLConfig.NONE)
    assert(retained.contains((1L, 2L)) && retained.contains((1L, 3L)),
      s"NONE run: expected state to accumulate to n_events=3, " +
        s"got $retained")
  }

  test("HDFS-backed default provider is rejected loudly, not silently") {
    // TWS mandates RocksDB; the provider matrix for this API is
    // therefore "RocksDB works (every other test here), default
    // provider fails AT QUERY START with an attributable error" — pin
    // the rejection so a future Spark upgrade that relaxes or worsens
    // the behavior is caught. NOT wrapped in withRocksDb: the point is
    // the suite session's default (HDFS-backed) provider.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(!spark.conf.getOption(TestSpark.RocksProviderKey)
        .exists(_.contains("RocksDB")),
      "test precondition: session default provider must not be RocksDB")
    val mem = MemoryStream[(Long, String, Long)]
    mem.addData(Seq((1L, "click", 100L)))
    val e = intercept[Exception] {
      val q = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new FunnelProcessor, TimeMode.None(),
          OutputMode.Update(),
          Encoders.product[(Long, Long, Long, Long, Long, Long, Long)])
        .writeStream.format("memory")
        .queryName(s"graft_tws_rej_${System.nanoTime()}")
        .outputMode(OutputMode.Update()).start()
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.toLowerCase.contains("rocksdb") ||
        m.toLowerCase.contains("provider")),
      s"rejection error does not name the provider requirement: " +
        s"${messages(e).take(2)}")
  }
}
