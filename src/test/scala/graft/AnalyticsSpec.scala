package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bounds for the estimate-class analytics queries and algebraic checks
  * for the moment-derived statistics. */
class AnalyticsSpec extends AnyFunSuite {
  import TestSpark._

  test("approx_percentile lands within the exact quartile neighborhood") {
    // The query output IS the check now (oracle-checkable band booleans
    // next to the exact percentiles); assert the bands hold and the exact
    // side agrees with agg_percentile's independent computation.
    val exact = SparkEntry.queries("agg_percentile")(spark, SF01)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(3)))
      .toMap // flag -> (median, p90)
    val rows = SparkEntry.queries("agg_approx_percentile")(spark, SF01)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      val (m, p90) = exact(flag)
      assert(r.getDouble(1) == m, s"$flag p50 mismatch vs agg_percentile")
      assert(r.getDouble(2) == p90, s"$flag p90 mismatch vs agg_percentile")
      assert(r.getBoolean(3), s"$flag: approx p50 outside ±2 of exact")
      assert(r.getBoolean(4), s"$flag: approx p90 outside ±2 of exact")
    }
  }

  test("moment-derived variance is non-negative and stddev² == variance") {
    val rows = SparkEntry.queries("agg_stats_moments")(spark, SF001).collect()
    rows.foreach { r =>
      val varPop = r.getAs[Double]("var_pop_q")
      val std = r.getAs[Double]("stddev_pop_q")
      assert(varPop >= 0)
      assert(math.abs(std * std - varPop) < 1e-9 * math.max(1.0, varPop))
    }
  }

  test("moment-derived stats agree with Spark built-ins to float tolerance") {
    import org.apache.spark.sql.functions._
    val builtin = graft.sources.Tables.lineitem(spark, SF001)
      .groupBy(col("l_returnflag"))
      .agg(var_pop(col("l_quantity")).as("v"),
        covar_pop(col("l_quantity"), col("l_discount")).as("cv"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    SparkEntry.queries("agg_stats_moments")(spark, SF001).collect()
      .foreach { r =>
        val (v, cv) = builtin(r.getString(0))
        assert(math.abs(r.getAs[Double]("var_pop_q") - v) < 1e-6 * (1 + v))
        assert(math.abs(r.getAs[Double]("covar_pop_qd") - cv) < 1e-6)
      }
  }

  test("gap_fill_daily zero-fills the missing calendar days") {
    // The driver fixtures happen to be gap-free (every (type, day) in the
    // span is observed), so the COALESCE path never fires there — build a
    // corpus WITH holes, in the events-parquet layout the loader expects
    // (ts is TIMESTAMP(NANOS) read as a raw long).
    import spark.implicits._
    def ns(day: Int): Long = // 2024-01-<day> 12:00 UTC, in nanoseconds
      (java.time.LocalDate.of(2024, 1, day).toEpochDay * 86400L + 43200L) *
        1000000000L
    val rows = Seq( // type a: days 1 and 3 — day 2 is a hole; b: 1 and 2
      (1L, ns(1), 10L, "a", 1.0, "{}"), (2L, ns(3), 10L, "a", 1.0, "{}"),
      (3L, ns(1), 11L, "b", 1.0, "{}"), (4L, ns(2), 11L, "b", 1.0, "{}"),
      (5L, ns(2), 12L, "b", 1.0, "{}"))
    val dir = TestSpark.tempDir("graft_gaps")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("gap_fill_daily")(spark, dir.toString)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("a", "2024-01-01", 1L, 0L),
      ("a", "2024-01-02", 0L, 1L), // the filled hole
      ("a", "2024-01-03", 1L, 0L),
      ("b", "2024-01-01", 1L, 0L),
      ("b", "2024-01-02", 2L, 0L)))
  }

  test("win_rolling_distinct equals a direct per-window distinct count") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("win_rolling_distinct")(spark, SF001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ud = graft.sources.Tables.events(spark, SF001)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    got.foreach { case (w, n) =>
      val direct = ud.filter { case (_, d) => d >= w - 2 && d <= w }
        .map(_._1).distinct.length.toLong
      assert(n == direct, s"window $w")
    }
    // distinct counts must NOT be the sum of daily distincts (that is
    // the bug this operator's window explosion exists to avoid) unless
    // no user spans two days in a window — assert the interesting case
    // exists in the fixture
    val inflated = got.exists { case (w, n) =>
      val sum = (w - 2 to w).map(d =>
        ud.filter(_._2 == d).map(_._1).distinct.length).sum
      sum > n
    }
    assert(inflated, "fixture has no cross-day user — test is vacuous")
    // no phantom windows past the last observed day (r4 review finding)
    assert(got.keySet.max == ud.map(_._2).max,
      "window anchors must clip at the last day present in the data")
  }

  test("join_point_in_time: every purchase gets exactly its own-time state") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("join_point_in_time")(spark, SF001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
    val purchases = graft.sources.Tables.events(spark, SF001)
      .filter(col("event_type") === "purchase")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    // exactly one interval per purchase — no loss, no fan-out
    assert(out.map(_._1).toSet == purchases)
    assert(out.length == purchases.size)
    out.foreach { case (eid, _, tsUs, state, fromUs) =>
      // leakage check: the matched interval STARTED at or before the event
      assert(fromUs <= tsUs, s"event $eid matched a future interval")
      assert(state.nonEmpty)
    }
    // a purchase that itself opens its interval maps to state 'purchase' —
    // only decidable when no other event shares the user's microsecond
    // (the scd2 tie rule), so restrict to unambiguous timestamps
    val tsCounts = graft.sources.Tables.events(spark, SF001)
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out.filter { case (_, uid, ts, _, from) =>
      ts == from && tsCounts((uid, ts)) == 1
    }.foreach { case (eid, _, _, state, _) =>
      assert(state == "purchase",
        s"event $eid starts its interval but carries state $state")
    }
  }

  test("win_pattern_match finds exactly the ground-truth funnel triples") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("win_pattern_match")(spark, SF001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // independent recomputation: per-user event sequence, sliding triples
    val seqs = graft.sources.Tables.events(spark, SF001)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val exp = seqs.flatMap { case (uid, evs) =>
      val ordered = evs.sortBy(e => (e._3, e._4))
      val hits = ordered.sliding(3).collect {
        case Array(a, b, c)
            if a._2 == "view" && b._2 == "click" && c._2 == "purchase" =>
          a._3
      }.toSeq
      if (hits.isEmpty) None
      else Some(uid -> ((hits.size.toLong, hits.min)))
    }
    assert(got == exp)
    assert(got.nonEmpty, "fixture must contain at least one funnel")
  }
}
