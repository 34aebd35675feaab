package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Spec
import graft.functions.{Det, Sql}
import graft.sources.{SessionMemo, Tables}

/** SURVEY.md §2.3 — batch joins (the reference's core capability re-expressed
  * relationally; the streaming variants live in graft.streaming).
  *
  * Scale posture: every equi-join here shuffles on its key (or broadcasts a
  * dim); the two non-equi shapes (theta-range, as-of) are deliberately
  * anchored on an equi key (`user_id`) so they plan as hash joins with a
  * residual band condition instead of O(n²) nested loops — this is THE
  * difference between "works on 60k rows" and "works on 100 TB".
  */
object Joins {
  def specs: Seq[Spec] = Seq(
    innerHash, leftOuter, rightOuter, fullOuter, leftSemi, leftAnti,
    broadcastJoin, multiway, thetaRange, asOf, bucketed, nullSafe, salted,
    dpp, fuzzy, bloom, rangeBin, skewAqe, hintShj, nullAwareAnti,
    antiNullRewrite, sqlHintBroadcast, usingNatural, sqlHintMerge,
    optLevRule, bnljTheta, exchangeReuse, aqeCoalesce, cboReorder)

  /** The engine's one custom optimizer rule, demonstrated end-to-end
    * (`org.apache.spark.sql.graft.ThresholdLevenshtein` — see its
    * Scaladoc for the rewrite table and the −1-sentinel trap): the
    * fuzzy predicate is written the NAIVE way users write it
    * (`levenshtein(a, b) <= 2`), the rule — installed through the
    * public `spark.experimental.extraOptimizations` hook, and through
    * `GraftExtensions.injectOptimizerRule` for conf-configured
    * deployments — rewrites it to the banded thresholded kernel
    * (O(k·n) per pair instead of O(n·m)), and the row REQUIRES the
    * rewritten form in the optimized plan before returning, so a rule
    * that silently stopped firing fails the row rather than just
    * losing the speedup. Candidates are a bounded key block (the
    * all-pairs generator is the demo; [[fuzzy]] owns the scale-safe
    * blocked shape) and the oracle runs DuckDB's full levenshtein —
    * results must be IDENTICAL to the naive spelling by construction. */
  private val optLevRule = Spec(
    "opt_levenshtein_rule",
    """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM part a JOIN part b
      |  ON a.p_partkey < b.p_partkey
      | AND a.p_partkey < 200 AND b.p_partkey < 200
      | AND levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY key_a, key_b""".stripMargin) { (s, d) =>
    org.apache.spark.sql.graft.ThresholdLevenshtein.install(s)
    val p = Tables.part(s, d).filter(col("p_partkey") < 200)
    val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    val joined = a.join(b, col("key_a") < col("key_b") &&
      levenshtein(col("name_a"), col("name_b")) <= 2)
    val opt = joined.queryExecution.optimizedPlan.toString
    require(opt.contains(", Some(2)) >= 0"),
      s"ThresholdLevenshtein did not rewrite the naive predicate:\n" +
        opt.take(1500))
    joined.select(col("key_a"), col("key_b"),
      levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** The `MERGE` join-strategy hint — the LAST of the four strategy
    * hints to be registered (BROADCAST → [[sqlHintBroadcast]],
    * SHUFFLE_HASH → [[hintShj]]; SHUFFLE_REPLICATE_NL is deliberately
    * NOT demonstrated — a cartesian-strategy hint on real tables is an
    * anti-pattern this engine should not normalize, and `join_cross`
    * already exercises the NL path on a bounded demo). MERGE forces a
    * sort-merge join where size-based selection would broadcast —
    * exactly what an operator does when the "small" side is
    * small-in-bytes but EXPLODES in the build (a broadcast OOM retried
    * nightly), or when both sides are pre-sorted storage. At sf0.001
    * nation is broadcast-sized, so SortMergeJoin appearing in the plan
    * (PlanSpec-pinned, BHJ absent) proves the hint overrode the
    * planner, the same falsification shape as [[hintShj]]. */
  private val sqlHintMerge = Spec(
    "sql_hint_merge",
    """SELECT n_name, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("graft_merge_customer")
    Tables.nation(s, d).createOrReplaceTempView("graft_merge_nation")
    s.sql(
      """SELECT /*+ MERGE(n) */ n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM graft_merge_customer c JOIN graft_merge_nation n
        |  ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  /** The SQL COMMENT hint (`/*+ BROADCAST(alias) */`) — the query-text
    * spelling of [[broadcastJoin]]'s `broadcast()` function call, which
    * is the form a SQL-only user (a BI tool, a migration from the
    * reference's SQL surface) actually has access to. The hint names
    * the RELATION ALIAS and survives analysis into the same
    * ResolvedHint the functions API produces — PlanSpec pins that the
    * executed plan is a BroadcastHashJoin with no SortMergeJoin, i.e.
    * the comment was a planner instruction, not a comment. */
  private val sqlHintBroadcast = Spec(
    "sql_hint_broadcast",
    """SELECT n_name, COUNT(*) AS n_sup,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    Tables.supplier(s, d).createOrReplaceTempView("graft_hint_supplier")
    Tables.nation(s, d).createOrReplaceTempView("graft_hint_nation")
    s.sql(
      """SELECT /*+ BROADCAST(n) */ n_name, COUNT(*) AS n_sup,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM graft_hint_supplier s JOIN graft_hint_nation n
        |  ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  /** `JOIN … USING (col)` and `NATURAL JOIN` — the name-equated join
    * sugar: USING equates the named column ONCE in the output (no
    * `a.k = b.k` duplicate column to disambiguate downstream), NATURAL
    * derives the join key set from every shared column name. Both
    * desugar to the same hash equi-join as the explicit ON form — this
    * is a resolution-rule surface, not a new operator — but the
    * NATURAL form is also a loaded gun at 100 TB (a schema evolution
    * that adds one shared column name silently changes the join key
    * set), which is exactly why an engine must implement its
    * resolution EXACTLY, not approximately: the row pins current
    * semantics so any future drift is a hash break. Both branches
    * tagged in one output; DuckDB implements the same SQL-standard
    * sugar. */
  private val usingNatural = Spec(
    "join_using_natural",
    """WITH a AS (SELECT o_orderkey, o_totalprice FROM orders
      |           WHERE o_orderstatus = 'F'),
      |     b AS (SELECT o_orderkey, o_orderpriority FROM orders)
      |SELECT 'using' AS form, o_orderkey, o_totalprice, o_orderpriority
      |FROM a JOIN b USING (o_orderkey)
      |UNION ALL
      |SELECT 'natural', o_orderkey, o_totalprice, o_orderpriority
      |FROM a NATURAL JOIN b
      |ORDER BY form, o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("graft_un_orders")
    s.sql(
      """WITH a AS (SELECT o_orderkey, o_totalprice FROM graft_un_orders
        |           WHERE o_orderstatus = 'F'),
        |     b AS (SELECT o_orderkey, o_orderpriority FROM graft_un_orders)
        |SELECT 'using' AS form, o_orderkey, o_totalprice, o_orderpriority
        |FROM a JOIN b USING (o_orderkey)
        |UNION ALL
        |SELECT 'natural', o_orderkey, o_totalprice, o_orderpriority
        |FROM a NATURAL JOIN b
        |ORDER BY form, o_orderkey""".stripMargin)
  }

  /** `NOT IN (subquery)` with a NULLABLE inner side — the classic
    * three-valued-logic trap, and a DISTINCT physical operator: one NULL
    * in the subquery makes `x NOT IN (…)` UNKNOWN for every x, so the
    * result is EMPTY, and Spark must plan a NULL-AWARE anti join
    * (BroadcastHashJoin LeftAnti with isNullAwareAntiJoin=true — the
    * plain LeftAnti of `join_left_anti` would wrongly return rows). The
    * row runs BOTH branches tagged in one output: 'clean' (null-free
    * subquery — behaves like the anti join everyone expects) and
    * 'poisoned' (one manufactured NULL — zero rows). At 100 TB this
    * semantics bug ships silently in the other direction: a pipeline
    * that "worked" on null-free dev data returns empty in prod the day
    * the inner side grows a NULL, which is why the engine must implement
    * the standard's semantics exactly, not the fast anti join. DuckDB's
    * NOT IN follows the same standard — the equivalence is the check;
    * the null-aware plan shape is pinned in PlanSpec. */
  private val nullAwareAnti = Spec(
    "join_null_aware_anti",
    """SELECT 'clean' AS branch, c_custkey FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |UNION ALL
      |SELECT 'poisoned', c_custkey FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
      |          ELSE o_custkey END
      |   FROM orders WHERE o_orderstatus = 'F')
      |ORDER BY branch, c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("graft_naaj_customer")
    Tables.orders(s, d).createOrReplaceTempView("graft_naaj_orders")
    s.sql(
      """SELECT 'clean' AS branch, c_custkey FROM graft_naaj_customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM graft_naaj_orders
        |   WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'poisoned', c_custkey FROM graft_naaj_customer
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |          ELSE o_custkey END
        |   FROM graft_naaj_orders WHERE o_orderstatus = 'F')
        |ORDER BY branch, c_custkey""".stripMargin)
  }

  /** The PRODUCTION rewrite of `NOT IN (subquery)` (VERDICT r18 #3 —
    * registered beside [[nullAwareAnti]], which measured WHY this row
    * must exist): Spark plans NOT-IN-over-nullable ONLY as a
    * null-aware BroadcastHashJoin, and the probe measured its per-task
    * build peak growing exactly linearly with the INNER side (2.1 →
    * 24 → 96 MB at 1×/8×/32×) — at 100 TB an unbounded inner side OOMs
    * every executor, full stop. The shippable form is the null-handled
    * left-anti: guard the OUTER key with IS NOT NULL and phrase the
    * test as NOT EXISTS on equality (an inner NULL never equals, so it
    * cannot poison the result), which plans as an ordinary SHUFFLED
    * anti join — both sides hash-partition by the key, no broadcast
    * build, no driver-side collect. The `merge` hint pins that shape
    * (a broadcastable fixture inner would otherwise let AQE pick BHJ
    * and the row would demonstrate nothing) and the body REQUIRES a
    * non-broadcast LeftAnti after planning, so a silent fallback to
    * the broadcast-only NAAJ fails the row.
    *
    * SEMANTIC DIFFERENCE, documented by the second branch: under a
    * null-free inner both spellings agree (this row's 'clean' branch ==
    * join_null_aware_anti's 'clean' branch). Under an inner containing
    * NULLs, NOT IN returns EMPTY (three-valued logic) while NOT EXISTS
    * keeps every customer none of whose NON-NULL inner keys match —
    * the 'nulled_inner' branch here is near-clean, not empty, and a
    * customer whose only 'F' orders had their keys nulled REAPPEARS.
    * That is exactly the behavior change a migration from NOT IN must
    * sign off on; DuckDB's NOT EXISTS agrees, which is the check. */
  private val antiNullRewrite = Spec(
    "join_anti_null_rewrite",
    """SELECT 'clean' AS branch, c_custkey FROM customer
      |WHERE c_custkey IS NOT NULL AND NOT EXISTS
      |  (SELECT 1 FROM orders o WHERE o.o_orderstatus = 'F'
      |   AND o.o_custkey = customer.c_custkey)
      |UNION ALL
      |SELECT 'nulled_inner', c_custkey FROM customer
      |WHERE c_custkey IS NOT NULL AND NOT EXISTS
      |  (SELECT 1 FROM orders o WHERE o.o_orderstatus = 'F'
      |   AND (CASE WHEN o.o_orderkey % 97 = 0 THEN NULL
      |        ELSE o.o_custkey END) = customer.c_custkey)
      |ORDER BY branch, c_custkey""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d)
      .select(col("c_custkey")).filter(col("c_custkey").isNotNull)
    val fOrders = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
    val clean = cust.join(
      fOrders.select(col("o_custkey").as("k")).hint("merge"),
      col("c_custkey") === col("k"), "left_anti")
    val nulled = cust.join(
      fOrders.select(when(col("o_orderkey") % 97 === 0, lit(null))
        .otherwise(col("o_custkey")).as("k")).hint("merge"),
      col("c_custkey") === col("k"), "left_anti")
    val out = clean.select(lit("clean").as("branch"), col("c_custkey"))
      .union(nulled.select(lit("nulled_inner").as("branch"),
        col("c_custkey")))
      .orderBy(col("branch"), col("c_custkey"))
    // Planning-time witness (the hint makes the shape deterministic, so
    // no execution is needed): both anti joins must be SHUFFLED — the
    // whole point of the rewrite — and the null-aware broadcast marker
    // must be absent.
    val ep = out.queryExecution.executedPlan.toString
    require(ep.contains("SortMergeJoin") && ep.contains("LeftAnti")
        && !ep.contains("BroadcastHashJoin"),
      "the null-handled rewrite did not plan as a shuffled anti join " +
        "(a BroadcastHashJoin here would include the null-aware form " +
        "this row exists to avoid):\n" + ep.take(1500))
    out
  }

  /** Runtime bloom-filter join pruning — the ROW-level sibling of
    * `join_dpp`'s partition-level pruning, and the pruning path that
    * matters at 100 TB when the fact is NOT laid out by the join key (the
    * common case: lineitem is ordered by orderkey, joined here by
    * partkey). Catalyst's InjectRuntimeFilter sees a selective predicate
    * on the dim side of a shuffle equi-join and plants
    * `might_contain(scalar-subquery bloom_filter_agg, xxhash64(l_partkey))`
    * directly above the fact scan: the ~5 % of parts in one brand build a
    * bloom filter once, and ~95 % of the 30× larger fact side is dropped
    * BEFORE the shuffle instead of after the join. PlanSpec asserts the
    * marker so a conf or rule regression is loud.
    *
    * Conf notes: injection only triggers for probable SHUFFLE joins (a
    * broadcastable dim skips it — the broadcast already avoids shuffling
    * the fact by key... but not scanning+shuffling fact ROWS, which the
    * bloom still prunes; Spark's rule is conservative here), so the
    * broadcast threshold is disabled on the query's clone; the
    * application-side floor (10 GB default — real clusters shouldn't
    * bloom tiny scans) is lowered for fixture sizes. The filter is
    * a pure optimization — false positives just pass rows the join drops
    * anyway — so the oracle is the plain join. */
  private val bloomConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter." +
      "applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private val bloom = Spec(
    "join_bloom",
    """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, p.p_name
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_brand = 'Brand#19'
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin) { (s, d) =>
    val out = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_partkey"))
      .join(Tables.part(s, d)
        .filter(col("p_brand") === "Brand#19")
        .select(col("p_partkey"), col("p_name")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("p_name"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    graft.Sessions.scoped(out, bloomConfs: _*)
  }

  /** Pre-pay the runtime-bloom-filter first-touch (VERDICT r17 #3):
    * join_bloom's first sample kept spiking in driver captures (r17:
    * 3.30 s billed, 0.26 s retime) on the one-time classload + codegen
    * of the BloomFilterAggregate / might_contain / scalar-subquery
    * machinery no other registered row exercises. Warm it with a tiny
    * part⋈part join under the same scoped confs — real file scans so
    * InjectRuntimeFilter actually fires — leaving the timed row's
    * steady sample to measure the real lineitem-side pruning. Like every
    * per-query conf, the bloom confs live on a clone (Bench runs this
    * warm beside other staging lanes, which must not see them); the plan
    * is built on `s`, so the part relation is the caller's memo entry. */
  private[graft] def warmRuntimeFilter(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    val p = Tables.part(s, d)
    graft.Sessions.scoped(p.select(col("p_partkey"))
      .join(p.filter(col("p_brand") === "Brand#19")
        .select(col("p_partkey").as("k")),
        col("p_partkey") === col("k")), bloomConfs: _*)
      .count(): Unit
  }

  /** Binned range join — the scalable plan for a PURE interval predicate
    * with no equi key to anchor on (the gap join_theta_range deliberately
    * sidesteps by anchoring on user_id): which lineitems shipped within
    * 30 days of each watched order's date, across unrelated orders.
    * Naively that is an O(n·m) nested-loop theta join. The binned shape:
    * pick a bin width ≥ the interval length (32 days > 30), map each
    * interval to the ≤ 2 bins it can overlap (explode — bounded fan-out
    * by the width choice), map each point to its single bin, equi-join
    * on the bin, and re-check the exact interval as a residual. The bin
    * cover spans days sd..sd+30 (not +29): with midnight dates the
    * interval's last POINT day is sd+29, but if a regenerated fixture
    * ever carried time-of-day, `< o_orderdate + 30 days` can reach into
    * day sd+30 — covering it costs nothing (31 ≤ 32 still means ≤ 2
    * bins) and makes correctness independent of the midnight invariant. Every
    * qualifying (point, interval) pair meets in exactly one bin — the
    * point's — so no dedup pass is needed. This is the range-join
    * strategy the big engines ship (Databricks' RANGE_JOIN hint, KDB
    * window joins): at 100 TB both sides shuffle by bin (time-local,
    * naturally balanced for time-series data) instead of one side
    * looping over the other; bin arithmetic is integer day division.
    * The residual compares the raw timestamps, so correctness never
    * depends on the binning; PlanSpec asserts the equi-join shape (no
    * nested loop). Oracle: the plain theta join. */
  /** The bin-equi-join core of `join_range_bin`, factored out so the
    * adversarial ScaleStress corpus (every interval in ONE bin) exercises
    * the exact production plan (VERDICT r9 #6). `intervals` must carry
    * (o_orderkey, o_orderdate), `points` (l_extendedprice, l_shipdate). */
  def rangeBinAgg(intervals: DataFrame, points: DataFrame,
      binDays: Long = 32L): DataFrame = {
    val day = (c: Column) => // NTZ-safe epoch-day (fixture dates are midnights)
      datediff(c.cast("date"), lit("1970-01-01").cast("date")).cast("long")
    val ivals = intervals
      .select(col("o_orderkey"), col("o_orderdate"),
        day(col("o_orderdate")).as("sd"))
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(array_distinct(array(
          expr(s"sd div $binDays"),
          expr(s"(sd + 30) div $binDays")))).as("bin"))
    val pts = points
      .select(col("l_extendedprice"), col("l_shipdate"),
        expr(s"datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01')" +
          s" div $binDays").as("bin"))
    pts.join(ivals, pts("bin") === ivals("bin")
        && col("l_shipdate") >= col("o_orderdate")
        && col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_shipped"),
        Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderkey"))
  }

  /** Day-pre-aggregated range join — the production plan when the
    * range join feeds a DISTRIBUTIVE aggregate (count/sum per
    * interval), which is this row's query. The round-16 scale probe
    * caught [[rangeBinAgg]] super-linear (slope 1.37; 27.6 s at the
    * 32× amplification): when volume grows within a FIXED time range,
    * per-bin density grows on both sides and the bin join must
    * enumerate a quadratically-growing candidate-pair set — inherent
    * to emitting raw pairs, but pure waste when only per-interval sums
    * survive. The fix: fold the points side to one row per DAY first
    * (one map-side-combined pass, O(points)), then explode each
    * interval into the ≤30 days it covers and equi-join on the day —
    * O(intervals·30) rows against a day table bounded by the calendar,
    * which Spark broadcasts. Work is linear in BOTH inputs at any
    * density; re-probed slope 27.6 s → sub-second at 32×.
    *
    * Exactness: with day-aligned interval starts, `p ≥ start AND
    * p < start+30d` ⟺ `day(p) ∈ [sd, sd+29]` for ANY time-of-day on
    * the points side — only the INTERVALS need the midnight invariant,
    * and a distributed `require` guards it loudly (the rewrite would
    * be silently wrong on time-of-day interval starts; [[rangeBinAgg]]
    * with its raw-timestamp residual remains the general-predicate
    * path and the ScaleStress harness still drives it). Decimal
    * re-sum: per-day DECIMAL(18,2) sums re-summed exactly, cast to
    * double once at the end — bit-equal to the one-pass Det.dsum. */
  def rangeDayAgg(intervals: DataFrame, points: DataFrame): DataFrame = {
    val day = (c: Column) =>
      datediff(c.cast("date"), lit("1970-01-01").cast("date")).cast("long")
    val dt = intervals.schema("o_orderdate").dataType
    // The day-alignment invariant rides the ivDays pass itself (ADVICE
    // r16: the previous eager `require(....isEmpty)` ran a full extra
    // distributed pass over the intervals side on EVERY construction —
    // i.e. inside every timed bench rep of the very row this rewrite
    // exists to speed up). `sd` is consumed by the explode, so the
    // check can't be pruned; a misaligned start raises on first touch
    // of that row. NULL starts keep their pre-guard behavior (null sd →
    // null sequence → row dropped by explode): coalesce treats the
    // null comparison as aligned.
    val aligned =
      coalesce(col("o_orderdate").cast("date").cast(dt) === col("o_orderdate"),
        lit(true))
    val sd = when(aligned, day(col("o_orderdate")))
      .otherwise(raise_error(lit(
        "rangeDayAgg requires day-aligned interval starts (time-of-day " +
          "o_orderdate would make the day rewrite silently wrong — use " +
          "rangeBinAgg's residual path instead)")))
    val ivDays = intervals
      .select(col("o_orderkey"), sd.as("sd"))
      .select(col("o_orderkey"),
        explode(sequence(col("sd"), col("sd") + 29)).as("d"))
    val dayAgg = points
      .groupBy(day(col("l_shipdate")).as("d"))
      .agg(count(lit(1)).as("n_day"),
        sum(Det.dec2(col("l_extendedprice"))).as("sum_day"))
    ivDays.join(dayAgg, "d")
      .groupBy(col("o_orderkey"))
      .agg(sum(col("n_day")).as("n_shipped"),
        sum(col("sum_day")).cast("double").as("sum_price"))
      .orderBy(col("o_orderkey"))
  }

  private val rangeBin = Spec(
    "join_range_bin",
    s"""SELECT o_orderkey, COUNT(*) AS n_shipped,
       |  ${Sql.dsum("l_extendedprice", "sum_price")}
       |FROM orders JOIN lineitem
       |  ON l_shipdate >= o_orderdate
       |  AND l_shipdate < o_orderdate + INTERVAL 30 DAY
       |WHERE o_orderkey % 499 = 0
       |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    rangeDayAgg(
      Tables.orders(s, d).filter(pmod(col("o_orderkey"), lit(499)) === 0),
      Tables.lineitem(s, d))
  }

  /** Fuzzy (edit-distance) self-match — the entity-resolution primitive
    * behind catalog dedup and reference-data reconciliation. The naive
    * form is an all-pairs |V|² levenshtein; the scale-safe shape used
    * here is BLOCKING: each name emits its length±1 as candidate keys,
    * the equi-join on the blocking key admits exactly the pairs whose
    * lengths can be within edit distance 1 of each other per edit, and
    * only candidates pay the (codegen'd built-in) levenshtein. Every
    * qualifying pair meets on exactly one key (the right side's true
    * length), so no dedup pass is needed. In production the same plan
    * adds prefix/q-gram blocking keys — more keys, same equi-join shape;
    * the quadratic blowup stays confined to within-block pairs. */
  private val fuzzy = Spec(
    "join_fuzzy",
    """WITH n AS (SELECT DISTINCT p_name FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM n a JOIN n b ON a.p_name < b.p_name
      |  AND abs(length(a.p_name) - length(b.p_name)) <= 1
      |  AND levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
    // persist the name dictionary: both join sides consume it, and
    // without the cache each side would re-scan part and recompute the
    // distinct aggregate (the r4 review caught PLANS.md claiming
    // otherwise). The dictionary is the small side by construction —
    // at scale it is the entity table you block against, built once.
    // Memoized per sfDir so evictSfDir can release it.
    val names = SessionMemo.persisted(s, d, "fuzzy_dict") {
      Tables.part(s, d).select(col("p_name")).distinct().persist()
    }
    fuzzyBlocked(names)
  }

  /** The blocking + candidate-verify core of `join_fuzzy`, factored out so
    * the adversarial ScaleStress corpus (a same-length name clique, the
    * regime where blocking is quadratic WITHIN the block) exercises the
    * exact production plan (VERDICT r9 #6). `names` must carry a single
    * `p_name` column. The verify step uses the THRESHOLDED levenshtein
    * (round 10): with a bound of 3 the DP early-exits after a band of
    * width ~3 instead of filling the full |a|·|b| matrix — on candidate
    * pairs that are mostly non-matches (the common case at scale) that
    * turns the verify cost from O(L²) to O(L) per pair. Values ≤ 3 are
    * exact, so the `dist ≤ 2` output is identical to the unbounded form
    * (and to the DuckDB oracle's full levenshtein). */
  def fuzzyBlocked(names: DataFrame): DataFrame = {
    val a = names
      .withColumn("blk", explode(sequence(
        length(col("p_name")) - 1, length(col("p_name")) + 1)))
      .select(col("p_name").as("name_a"), col("blk"))
    val b = names.select(col("p_name").as("name_b"),
      length(col("p_name")).as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), 3).cast("long"))
      .filter(col("dist").between(0, 2))
      .select(col("name_a"), col("name_b"), col("dist"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Dynamic partition pruning: the fact side is LAID OUT partitioned by
    * the join key (customers by nation directory), the dim side carries a
    * selective filter (one region's nations), and Catalyst prunes fact
    * partitions AT RUNTIME from the dim join keys — the scan's
    * PartitionFilters gains a `dynamicpruningexpression` fed by the reused
    * broadcast, so only 5 of 25 nation directories are ever listed or
    * read. At 100 TB with date-partitioned facts this is the difference
    * between scanning a quarter's directories and the whole table; static
    * pruning (sink_partitioned) cannot do it because the surviving keys
    * are only known after the dim filter runs. PlanSpec asserts the
    * `dynamicpruning` marker so a conf or plan regression is loud.
    *
    * The partition key is joined as the read-back's inferred IntegerType
    * (the dim side is cast instead) so the scan-side key stays a bare
    * partition-column reference — a cast above it risks defeating the
    * pruning rule's lineage check. Oracle: the identical join computed
    * straight from the unpartitioned source table. */
  /** One partitioned-customer layout per (session, sfDir): the
    * nation-directory layout is join_dpp's INPUT (the "fact table is laid
    * out partitioned by the join key" precondition a production table
    * pays ONCE at ingest), not the operation under demonstration, so it
    * is built once, pre-payable by Bench as `materialize_layout`, and the
    * timed line measures ONLY the pruned join. A
    * [[Scans.stampedMemo]]: a partial delete of the partition tree
    * rebuilds instead of serving only the surviving nations' customers. */
  private val dppLayout = Scans.stampedMemo()

  private[graft] def dppCustomerLayout(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    dppLayout(s, d) {
      val loc = Scans.scratch(s, "dpp_customer", d)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
        .write.mode("overwrite").partitionBy("c_nationkey").parquet(loc)
      Scans.stampExpected(loc)
      loc
    }

  private val dpp = Spec(
    "join_dpp",
    """SELECT c.c_custkey, c.c_acctbal, n.n_name
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE n.n_regionkey = 1
      |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
    val fact = s.read.parquet(dppCustomerLayout(s, d))
    val dim = Tables.nation(s, d)
      .filter(col("n_regionkey") === 1)
      .select(col("n_nationkey").cast("int").as("n_nationkey"),
        col("n_name"))
    fact.join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_acctbal"), col("n_name"))
      .orderBy(col("c_custkey"))
  }

  /** Skew-salted equi-join: the fact side appends a salt in 0..R-1 to its
    * key, the dim side is replicated R ways (one row per salt), and the
    * join runs on (key, salt) — a key hot enough to sink one reducer is
    * spread over R tasks. The salt MUST vary WITHIN a join key (here it
    * hashes l_linenumber, which varies within an orderkey) — deriving it
    * from the join key itself would give every row of a hot key the same
    * salt and spread nothing while still paying the R× dim replication.
    * This is the manual defense for engines/paths where AQE skew-join
    * does not apply (stream-static joins, pre-3.0 stacks, or skew AQE's
    * 256 MB split threshold does not catch); the salt never escapes the
    * plan, so the result is IDENTICAL to the plain join — which is
    * exactly what the oracle runs. R = 8 multiplies the dim by 8: only
    * acceptable because the dim side is orders of magnitude smaller than
    * the fact side (here: orders vs lineitem), the same asymmetry the
    * technique assumes at 100 TB. */
  /** AQE skew-join — the RUNTIME answer to the skew `join_salted` solves
    * by hand: a deliberately skewed key (every lineitem row mapped onto 3
    * hot keys) sort-merge-joins a 3-row dim, and Adaptive Query Execution
    * splits the oversized shuffle partitions into parallel sub-joins
    * AFTER seeing the real partition sizes (`skew=true` on the join node
    * — PlanSpec asserts it). At 100 TB this is the difference between 999
    * idle executors waiting on one hot partition and the hot partition
    * being subdivided to the cluster; salting remains the fallback when
    * the skew is in a BROADCAST-ineligible aggregation key rather than a
    * join side AQE can split. Thresholds are scoped low so fixture-size
    * partitions qualify as skewed; the result (an aggregate over the
    * joined rows) is unaffected by how AQE slices the work, which is
    * exactly the point — the oracle checks the plain join. */
  /** The skewed join on a clone carrying the AQE-skew confs (AQE
    * decides skew splits at runtime from real partition sizes, so the
    * confs must cover the ACTION, not just planning — the clone's conf
    * does, whenever the frame runs). Key mapping: 8 of every 10
    * orderkeys land on hot key 0, the rest keep their mod-10 class — an
    * 8×-median hot partition AQE must subdivide. */
  private def skewAqeFrame(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val hotOf = (k: Column) =>
      when(pmod(k, lit(10L)) < 8, 0L).otherwise(pmod(k, lit(10L)))
    val factBase = Tables.lineitem(s, d)
      .select(hotOf(col("l_orderkey")).as("hot"), col("l_extendedprice"))
    // Skew thresholds DERIVED from the fact's own optimizer size estimate
    // instead of a fixture-tuned "16KB" literal (the carried r5 item):
    // the hot key holds ~80 % of rows, the two cold keys ~10 % each —
    // the same derivation a production job does from table stats.
    // UNIT CAVEAT (ADVICE r8): the estimate is UNCOMPRESSED in-memory row
    // bytes, but AQE compares the threshold against ACTUAL (compressed)
    // shuffle partition bytes. The hot partition holds ~0.8× the real
    // shuffle volume S, so a threshold of estimate/16 fires as long as
    // E/S < 12.8 — double the old estimate/8 margin (E/S < 6.4), enough
    // headroom for a codec or schema change to move the ratio without
    // silently disabling the split. The skewedPartitionFactor=2.0
    // median test is NO guard against cold-partition false positives
    // here — with 3 join keys in 8 shuffle partitions the median
    // partition is EMPTY, so any nonempty partition passes it; a cold
    // split at E/S < 1.6 is possible and harmless (AQE skew splits
    // preserve join results by construction; the cost is an extra task,
    // and the JoinsSpec markers assert the HOT split happened, which
    // the threshold alone governs). Advisory = half the threshold
    // preserves the split granularity relationship the literals had
    // (16KB/8KB).
    val factBytes = factBase.queryExecution.optimizedPlan.stats.sizeInBytes
    val skewThresholdBytes = (factBytes / 16).max(1)
    val advisoryBytes = (factBytes / 32).max(1)
    val fact = factBase
      // AQE splits a skewed partition at MAPPER boundaries; the tiny
      // fixture file scans as ONE map task, which is unsplittable by
      // definition. Round-robin to 16 mappers first — the multi-mapper
      // shuffle geometry any real cluster has.
      .repartition(16)
    // The dim side must be PATTERN-PURE: OptimizeSkewedJoin only
    // matches SMJ(Sort(ShuffleStage), Sort(ShuffleStage)), and a
    // distinct/aggregate fused between the Sort and the stage blocks
    // the rewrite (a real-world gotcha worth pinning: put the dim's
    // dedup BEFORE its shuffle, or the skew split silently never
    // happens). Enumerate the 3 hot keys on the driver — a dim-key
    // enumeration, the shape a broadcast-ineligible keyed dim has.
    import s.implicits._
    val hotKeys = Tables.orders(s, d)
      .select(hotOf(col("o_orderkey")).as("hot2"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val dim = hotKeys.map(k => (k, k.toString)).toDF("hot2", "status")
    // aggregate on status ALONE: hash(hot) would satisfy a grouping
    // that includes hot, gluing the aggregate into the join stage and
    // giving the skew split a downstream distribution to violate;
    // grouping by the (join-key-independent, as far as Catalyst knows)
    // status column puts a fresh exchange above the join, the shape a
    // real skewed fact-dim join has
    val out = fact.join(dim, col("hot") === col("hot2"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("status"))
    graft.Sessions.scoped(out,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        skewThresholdBytes.toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        advisoryBytes.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
  }

  /** [[skewAqeFrame]] executed: the 3 result rows, the executed plan
    * string (carrying the skew markers for PlanSpec), and the schema. */
  def skewAqeRun(s: org.apache.spark.sql.SparkSession, d: String)
      : (Array[org.apache.spark.sql.Row], String,
         org.apache.spark.sql.types.StructType) = {
    val out = skewAqeFrame(s, d)
    val rows = out.collect()
    (rows, finalPlanString(out), out.schema)
  }

  private val skewAqe = Spec(
    "join_skew_aqe",
    s"""SELECT status, COUNT(*) AS n,
       |  ${Sql.dsum("l_extendedprice", "sum_price")}
       |FROM (SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
       |             ELSE l_orderkey % 10 END AS hot, l_extendedprice
       |      FROM lineitem)
       |JOIN (SELECT hot2, CAST(hot2 AS VARCHAR) AS status FROM (
       |        SELECT DISTINCT CASE WHEN o_orderkey % 10 < 8 THEN 0
       |               ELSE o_orderkey % 10 END AS hot2 FROM orders)) d2
       |  ON hot = hot2
       |GROUP BY status
       |ORDER BY status""".stripMargin) { (s, d) =>
    skewAqeFrame(s, d)
  }

  private val salted = Spec(
    "join_salted",
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${Sql.dsum("l_extendedprice", "sum_price")}
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val r = 8
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber"))
      .withColumn("salt",
        pmod(xxhash64(col("l_linenumber")), lit(r)).cast("int"))
    val dim = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .withColumn("salt", explode(array((0 until r).map(lit(_)): _*)))
    // merge hint (round 17): the scale probe's MEMORY axis caught Spark
    // broadcasting the r×-exploded dim at the 8× amplification — a
    // 1.25 GB per-task hash build (vs 128 MB when the 32× estimate
    // finally tipped it to SMJ) that was also 2.4× SLOWER than the
    // shuffle join, visible as a confusing negative time slope. Salting
    // exists precisely for the regime where the build side CANNOT be
    // broadcast, so the demo forces the shuffle plan: peak memory is
    // back to linear-in-partition-share and the measured time slope is
    // the salted shuffle's. PlanSpec pins BroadcastHashJoin ABSENT here.
    fact.hint("merge").join(dim,
        fact("l_orderkey") === dim("o_orderkey")
          && fact("salt") === dim("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the join key is
    * made nullable by mapping one priority class to NULL on both sides,
    * and the null-safe comparison makes the NULL groups MATCH each other —
    * the semantics a plain `=` join silently drops. Still plans as a hash
    * join (the null-safe key hashes like any value); ORDER pins NULLS
    * FIRST because the engines' defaults differ. */
  private val nullSafe = Spec(
    "join_null_safe",
    """SELECT a.pk AS pk, a.n_f, b.n_o
      |FROM (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
      |              ELSE o_orderpriority END AS pk, COUNT(*) AS n_f
      |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) a
      |JOIN (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
      |              ELSE o_orderpriority END AS pk, COUNT(*) AS n_o
      |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) b
      |ON a.pk IS NOT DISTINCT FROM b.pk
      |ORDER BY pk ASC NULLS FIRST""".stripMargin) { (s, d) =>
    def side(status: String, cnt: String) = Tables.orders(s, d)
      .filter(col("o_orderstatus") === status)
      .groupBy(when(col("o_orderpriority") === "1-URGENT", lit(null))
        .otherwise(col("o_orderpriority")).as("pk"))
      .agg(count(lit(1)).as(cnt))
    val a = side("F", "n_f")
    val b = side("O", "n_o").withColumnRenamed("pk", "pk_b")
    a.join(b, col("pk") <=> col("pk_b"))
      .select(col("pk"), col("n_f"), col("n_o"))
      .orderBy(col("pk").asc_nulls_first)
  }

  /** Bucketed co-located join: both sides pre-bucketed on the join key into
    * the same bucket count, so the sort-merge join consumes the buckets
    * directly — NO exchange on either side (PlanSpec asserts it). At
    * 100 TB this is how a recurring fact⋈fact join amortizes its shuffle:
    * pay the partitioning once at write time, never again per query. The
    * merge hint pins SMJ (broadcast would otherwise win at fixture size
    * and hide the property being demonstrated). */
  /** The pay-once bucketed layout behind `join_bucketed`, factored out so
    * Bench can pre-pay it as `materialize_layout` (VERDICT r12 #2: the
    * first-invocation table writes put the query 3.8–4.4× over its retime
    * in every first sample). Table names AND paths are keyed by sfDir,
    * and each table is written once per sfDir per JVM (pay-once-at-
    * write-time is the point of the operator): repeat invocations — and
    * two sfDirs in one session — reuse or create their own catalog
    * entries without clobbering. Self-heal (same hazard class as the
    * scratch memos): the catalog entry is session-lived but the bucket
    * FILES are pid-keyed tmp shared across same-JVM sessions, so an
    * external/cross-session delete can orphan the entry — a stale entry
    * whose directory lost its bucket files is dropped and rewritten.
    * Returns (ordersTable, customerTable) catalog names. */
  private[graft] def bucketedTables(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = {
    val sfKey = SessionMemo.pathKey(d)
    // pid-tagged like Scans.scratch: a concurrent JVM on the same sfDir
    // must never share — or clean up — this JVM's bucket files.
    val loc = s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_p${Scans.jvmTag}_bucketed_$sfKey"
    // The catalog entries die with the session's in-memory catalog, but
    // the bucket FILES under tmp would outlive it and accumulate across
    // sfDirs — delete them when the session's context ends.
    // (Idempotent per (session, sfKey); file-only, no catalog calls, so it
    // is safe during context teardown.)
    graft.sources.SessionHooks.onApplicationEnd(s, s"joins-bucketed-$sfKey") {
      () => Scans.rmRecursive(new java.io.File(loc))
    }
    def bucketize(base: String, df: => org.apache.spark.sql.DataFrame,
        key: String): String = {
      val name = s"${base}_$sfKey"
      // Exact-completeness check: an any-file-present check would pass a
      // partial external delete of the bucket files and the sort-merge
      // join would silently read a table missing most of its buckets —
      // drop + rebuild unless the live parquet count equals the
      // `_graft_expected` stamp written at build time.
      if (s.catalog.tableExists(name) &&
          !Scans.healthyStamped(new java.io.File(s"$loc/$base")))
        s.sql(s"DROP TABLE IF EXISTS $name")
      if (!s.catalog.tableExists(name)) {
        df.write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .option("path", s"$loc/$base")
          .saveAsTable(name)
        Scans.stampExpected(s"$loc/$base")
      }
      name
    }
    (bucketize("graft_bkt_orders",
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice")), "o_custkey"),
      bucketize("graft_bkt_customer",
        Tables.customer(s, d).select(col("c_custkey")), "c_custkey"))
  }

  /** Bench pre-pay hook for BOTH recurring-layout substrates (the DPP
    * nation-directory layout and the bucketed tables) — forcing them
    * before the timed loop moves first-touch setup cost into its own
    * `materialize_layout` field, so join_dpp/join_bucketed's timed lines
    * measure the JOIN, which is what they demonstrate. */
  private[graft] def materializeLayouts(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    dppCustomerLayout(s, d)
    bucketedTables(s, d)
    // round 19: the CBO witness's ANALYZEd catalog copies — stats
    // collection is the pay-once step the row demonstrates, so its
    // timed line should measure the reordered join, not the ANALYZE.
    cboTables(s, d)
    ()
  }

  private val bucketed = Spec(
    "join_bucketed",
    s"""SELECT o.o_custkey, COUNT(*) AS n_pairs,
       |  ${Sql.dsum("o_totalprice", "sum_price")}
       |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |GROUP BY o.o_custkey
       |ORDER BY o.o_custkey""".stripMargin) { (s, d) =>
    val (ordersT, custT) = bucketedTables(s, d)
    s.table(ordersT).hint("merge")
      .join(s.table(custT).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_pairs"),
        Det.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_custkey"))
  }

  private val innerHash = Spec(
    "join_inner_hash",
    """SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("c_custkey"),
        col("c_name"), col("c_mktsegment"))
      .orderBy(col("o_orderkey"))
  }

  /** Customers with no matching high-value order keep a NULL right side. */
  private val leftOuter = Spec(
    "join_left_outer",
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer LEFT JOIN orders
      |  ON c_custkey = o_custkey AND o_totalprice > 400000
      |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d),
        col("c_custkey") === col("o_custkey") && col("o_totalprice") > 400000,
        "left")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  private val rightOuter = Spec(
    "join_right_outer",
    """SELECT o_orderkey, o_orderstatus, c_custkey, c_name
      |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"),
        "right")
      .select(col("o_orderkey"), col("o_orderstatus"), col("c_custkey"),
        col("c_name"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  /** Full outer on a deliberately partial condition so both sides produce
    * unmatched rows (customers without purchases / events without a
    * BUILDING-segment owner). events.user_id ⊆ c_custkey (FIXTURES.md) but
    * only custkey < |events users| ever appears. */
  private val fullOuter = Spec(
    "join_full_outer",
    """SELECT c.c_custkey, c.c_name, e.event_id, e.event_type
      |FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') e
      |  ON c.c_custkey = e.user_id
      |ORDER BY c_custkey NULLS FIRST, event_id NULLS FIRST""".stripMargin) {
    (s, d) =>
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val e = Tables.events(s, d).filter(col("event_type") === "purchase")
      c.join(e, col("c_custkey") === col("user_id"), "full")
        .select(col("c_custkey"), col("c_name"), col("event_id"),
          col("event_type"))
        .orderBy(col("c_custkey").asc_nulls_first,
          col("event_id").asc_nulls_first)
  }

  private val leftSemi = Spec(
    "join_left_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val leftAnti = Spec(
    "join_left_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.events(s, d), col("c_custkey") === col("user_id"),
        "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Explicit broadcast of the 25-row nation dim against lineitem⋈supplier:
    * at 100 TB this is the difference between one shuffle of the fact table
    * and none — dims ship to every executor instead. */
  private val broadcastJoin = Spec(
    "join_broadcast",
    s"""SELECT n_name, ${Sql.dsum("l_extendedprice", "volume")},
       |       COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(Det.dsum(col("l_extendedprice")).as("volume"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"))
  }

  /** The SHUFFLE_HASH join-strategy hint (public since Spark 3.0,
    * `Dataset.hint` / `/*+ SHUFFLE_HASH(t) */`): the middle rung of the
    * join ladder at 100 TB — the dim side is too big to broadcast (so
    * `join_broadcast`'s shape is off the table) but small enough per
    * post-shuffle partition to hash-build, and SHUFFLE_HASH then skips
    * the sort SMJ would impose on BOTH shuffled sides (an O(n log n)
    * pass over the 100 TB fact side that buys nothing). The hint is on
    * the build (customer) side; strategy hints take precedence over
    * size-based selection, which is exactly their operational point —
    * stats misestimates at scale pick SMJ where the engineer knows the
    * per-partition build fits. Plan-pinned to ShuffledHashJoin (never
    * broadcast, never SMJ) in PlanSpec; results are strategy-invariant,
    * so the oracle is the plain join. */
  private val hintShj = Spec(
    "join_hint_shj",
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")).hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q5-ish 5-way star join: fact table last so Catalyst/AQE
    * broadcast the dim chain and the only shuffle is the final aggregate. */
  private val multiway = Spec(
    "join_multiway",
    s"""SELECT n_name, CAST(SUM(${Sql.revenue}) AS DOUBLE) AS revenue,
       |       COUNT(*) AS n_lines
       |FROM region
       |JOIN nation   ON n_regionkey = r_regionkey
       |JOIN customer ON c_nationkey = n_nationkey
       |JOIN orders   ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01'
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin) { (s, d) =>
    Tables.region(s, d).filter(col("r_name") === "ASIA")
      .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(sum(Det.revenue).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"))
  }

  /** Non-equi band join: for each purchase, count the same user's clicks in
    * the preceding 10 minutes. Anchored on the user_id equi key so Spark
    * plans a hash join with the band as residual — a pure theta join would
    * be a cartesian BNLJ and die at scale. (At 100 TB one would additionally
    * bucket both sides by coarse time window to bound the per-key fan-in.) */
  private val thetaRange = Spec(
    "join_theta_range",
    """SELECT p.event_id, p.user_id, COUNT(c.event_id) AS clicks_before
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >  p.ts - INTERVAL 10 MINUTE
      | AND c.ts <= p.ts
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"),
        col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event_id"), col("user_id").as("c_user_id"),
        col("ts").as("c_ts"))
    p.join(c,
        col("p_user_id") === col("c_user_id")
          && col("c_ts") > col("p_ts") - expr("INTERVAL 10 MINUTE")
          && col("c_ts") <= col("p_ts"),
        "left")
      .groupBy(col("p_event_id").as("event_id"),
        col("p_user_id").as("user_id"))
      .agg(count(col("c_event_id")).as("clicks_before"))
      .orderBy(col("event_id"))
  }

  /** As-of join via the struct-max idiom (Spark 4.1 has no native as-of):
    * each purchase event is matched to the user's latest order placed
    * at-or-before the event. Equi key + max aggregation ⇒ two shuffles,
    * no sort-merge-interval machinery needed; ties on o_orderdate collapse
    * because only the date is emitted. */
  private val asOf = Spec(
    "join_asof",
    """SELECT e.event_id, e.user_id, MAX(o.o_orderdate) AS last_order_date,
      |       COUNT(o.o_orderkey) AS n_prior_orders
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') e
      |LEFT JOIN orders o
      |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |GROUP BY e.event_id, e.user_id
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    e.join(o,
        col("o_custkey") === col("user_id") && col("o_orderdate") <= col("ts"),
        "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(max(col("o_orderdate")).as("last_order_date"),
        count(col("o_orderkey")).as("n_prior_orders"))
      .orderBy(col("event_id"))
  }

  /** Pure non-equi join via `BroadcastNestedLoopJoin` — the one physical
    * join operator the registry had not yet pinned POSITIVELY (every
    * other row either has an equi anchor or proves BNLJ's absence; see
    * `join_theta_range`, which exists precisely to show how to AVOID
    * this plan). When the predicate has no equi conjunct at all, BNLJ
    * with the small side broadcast is not a failure mode but the
    * correct 100 TB shape: cost = |big| × |broadcast| comparisons,
    * streamed, no shuffle of the big side — fine for a ≤O(100)-row
    * broadcast side (nation: 25 rows), catastrophic otherwise, which is
    * why PlanSpec pins BuildRight-on-nation here and bans BNLJ
    * everywhere else. The query: for each supplier, how many nations
    * rank strictly above its own (an open interval predicate nothing
    * equi can anchor). */
  private val bnljTheta = Spec(
    "join_bnlj_theta",
    """SELECT s_suppkey, COUNT(*) AS n_higher,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
      |FROM supplier JOIN nation ON s_nationkey < n_nationkey
      |GROUP BY s_suppkey
      |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"))
    sup.join(broadcast(nat), col("s_nationkey") < col("n_nationkey"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_higher"),
        sum(col("n_nationkey")).as("key_sum"))
      .orderBy(col("s_suppkey"))
  }

  /** `ReuseExchange` — ONE shuffle feeding two consumers: a derived
    * aggregate referenced twice plans as ONE scan + ONE aggregation +
    * ONE shuffle, with the second reference served from the first's
    * shuffle files (`ReusedExchange` in the physical plan). At 100 TB
    * this is the difference between reading the fact table once or
    * twice — and it is FREE as long as the two subtrees stay literally
    * identical, which is why the CTE is written once and consumed twice
    * rather than spelled twice with cosmetic differences (a differing
    * alias set or filter order breaks subtree equality and silently
    * doubles the scan). The row REQUIRES the reuse node after
    * execution, so a Catalyst change that stopped deduplicating fails
    * the row rather than just doubling the cost.
    *
    * SHAPE (VERDICT r18 #1 — re-shaped from the equal-count SELF-JOIN
    * form, which the round-18 probe adjudicated intermediate-quadratic:
    * count values have bounded support, so the pair mass it emitted
    * grew as pairs(n) = cnt(n)·(cnt(n)−1) — measured ×16 output from
    * x8 to x32, slope 1.35, surviving isolated retimes. DO NOT ship
    * that shape; a pipeline wanting pair counts computes the closed
    * form on the bucket aggregate instead). The reuse witness here is
    * the scale-safe spelling of the same optimizer fact: two DIFFERENT
    * second-level aggregates — bucket sizes and bucket key-sums over
    * the per-customer order counts — consume the ONE hash-partitioned
    * exchange of the per-customer aggregate, union'd. Output is
    * O(distinct counts), linear work end-to-end, and the exchange
    * still feeds two consumers. */
  private val exchangeReuse = Spec(
    "opt_exchange_reuse",
    """WITH a AS (SELECT o_custkey AS k, COUNT(*) AS n
      |           FROM orders GROUP BY o_custkey)
      |SELECT 'bucket_size' AS agg, n AS grp, CAST(COUNT(*) AS BIGINT) AS v
      |FROM a GROUP BY n
      |UNION ALL
      |SELECT 'bucket_keysum', n, CAST(SUM(k) AS BIGINT)
      |FROM a GROUP BY n
      |ORDER BY agg, grp""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("graft_xr_orders")
    val out = s.sql(
      """WITH a AS (SELECT o_custkey AS k, COUNT(*) AS n
        |           FROM graft_xr_orders GROUP BY o_custkey)
        |SELECT 'bucket_size' AS agg, n AS grp, COUNT(*) AS v
        |FROM a GROUP BY n
        |UNION ALL
        |SELECT 'bucket_keysum', n, SUM(k)
        |FROM a GROUP BY n
        |ORDER BY agg, grp""".stripMargin)
    // count() would execute a DIFFERENT derived plan and leave out's
    // own adaptive plan unfinalized — collect() executes THIS
    // queryExecution.
    val rows = out.collect()
    val ep = finalPlanString(out)
    // Non-adaptive plans print the reuse as a ReusedExchange node; the
    // adaptive plan materializes it as the SAME ShuffleQueryStage id
    // consumed twice (or an explicit reuse marker, version-dependent).
    require(ep.contains("ReusedExchange") || reusedStageId(ep).nonEmpty,
      "exchange reuse did not fire — the shared per-customer aggregate " +
        "is being computed twice:\n" + ep.take(1500))
    // Return the witnessed execution's own rows — a plain `out` would
    // re-execute the whole plan on the write.
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      .orderBy(col("agg"), col("grp"))
  }

  /** The adaptive root's toString prints only itself — unwrap to the
    * final physical tree. */
  private def finalPlanString(df: DataFrame): String =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }

  /** A shuffle-stage id that appears more than once in the printed final
    * plan — AQE's rendering of exchange reuse. */
  private def reusedStageId(ep: String): Option[String] = {
    val ids = "ShuffleQueryStage (\\d+)".r.findAllMatchIn(ep)
      .map(_.group(1)).toSeq
    ids.groupBy(identity).collectFirst { case (id, hits) if hits.size > 1 => id }
  }

  /** AQE partition coalescing (`AQEShuffleRead coalesced`) — the third
    * AQE surface the registry pins ([[skewAqe]] = skew split,
    * `sql_hint_rebalance` = explicit rebalance): a low-cardinality
    * aggregate shuffled at the static `spark.sql.shuffle.partitions`
    * width leaves almost every reducer partition near-empty, and AQE
    * merges them to the advisory size at RUNTIME from the real map
    * output stats. At 100 TB this is what makes one global shuffle
    * width livable: the same `shuffle.partitions=thousands` that a
    * wide join needs would otherwise saddle every small aggregate in
    * the pipeline with thousands of empty-task launches (scheduling
    * overhead, tiny output files downstream). The row REQUIRES the
    * coalesced read after execution AND that the output collapsed to
    * fewer partitions than the static width. */
  private val aqeCoalesce = Spec(
    "opt_aqe_coalesce",
    """SELECT o_orderstatus AS st, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p
      |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin) {
    (s, d) =>
    val out = Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("sum_p"))
      .orderBy(col("st"))
    val rows = out.collect() // executes THIS queryExecution (count() would not)
    val ep = finalPlanString(out)
    require(ep.contains("AQEShuffleRead coalesced"),
      "AQE did not coalesce the near-empty reducer partitions:\n" +
        ep.take(1500))
    val parts = out.rdd.getNumPartitions
    val static = s.conf.get("spark.sql.shuffle.partitions").toInt
    require(parts < static,
      s"coalesced output still has $parts partitions at static width " +
        s"$static")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      .orderBy(col("st"))
  }

  private val cboNames = Seq("orders", "customer", "nation")

  /** (scratch root, table names) per (session, sfDir), healthy while all
    * three tables' directories are complete per their stamps — a hit
    * after an external or partial delete rebuilds, and `make`'s drop of
    * the stale catalog entry does the repair. */
  private val cboLayout = new SessionMemo[(String, (String, String, String))](
    { case (loc, _) =>
      cboNames.forall(n => Scans.healthyStamped(new java.io.File(loc, n)))
    })

  /** ANALYZEd copies of orders/customer/nation for the CBO witness —
    * catalog statistics only attach to catalog tables, so the row stages
    * the three relations once per (session, sfDir) with full column
    * stats. Staged as EXTERNAL tables under this JVM's [[Scans.scratch]]
    * dir, never as shared-warehouse managed tables keyed only by sfDir: a
    * concurrent graft JVM's DROP + rmRecursive on the same sfDir would
    * delete the live files out from under this JVM's tables. Table names
    * are LOWERCASED: the catalog lowercases identifiers, so an uppercase
    * sfDir would otherwise break both the stale-cleanup path and the
    * bottomJoinString contains() witnesses against the plan's lowercased
    * names. Content is identical to the parquet fixtures, which is why
    * the oracle runs on the fixtures directly. */
  private[graft] def cboTables(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String, String) =
    cboLayout(s, d) {
      val key = SessionMemo.pathKey(d).toLowerCase
      val loc = Scans.scratch(s, "cbo", d)
      def make(name: String, df: DataFrame, statCols: String): String = {
        val tbl = s"graft_cbo_${name}_$key"
        val dir = new java.io.File(loc, name)
        // Same self-heal as bucketize: a stale catalog entry whose
        // external files were deleted (or partially deleted) is dropped
        // and rebuilt; completeness is the `_graft_expected` stamp, not
        // any-file-present.
        if (s.catalog.tableExists(tbl) && !Scans.healthyStamped(dir))
          s.sql(s"DROP TABLE IF EXISTS $tbl")
        if (!s.catalog.tableExists(tbl)) {
          Scans.rmRecursive(dir)
          df.write.mode("overwrite").option("path", dir.toString)
            .saveAsTable(tbl)
          Scans.stampExpected(dir.toString)
          s.sql(
            s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS $statCols")
        }
        tbl
      }
      (loc,
        (make("orders", Tables.orders(s, d)
           .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
           "o_custkey"),
         make("customer", Tables.customer(s, d)
           .select(col("c_custkey"), col("c_nationkey")),
           "c_custkey, c_nationkey"),
         make("nation", Tables.nation(s, d)
           .select(col("n_nationkey"), col("n_regionkey"), col("n_name")),
           "n_nationkey, n_regionkey")))
    }._2

  /** The deepest Join subtree of a query's optimized logical plan,
    * printed — which pair of relations the optimizer chose to join
    * FIRST. `collect` is pre-order, so the last Join is the bottom of a
    * left-deep tree; its toString carries the relation names. */
  private def bottomJoinString(df: DataFrame): String = {
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    require(joins.nonEmpty, "no Join in the optimized plan")
    joins.last.toString
  }

  /** Cost-based join REORDER (`spark.sql.cbo.joinReorder`) — the
    * stats-driven optimizer surface the runtime family (AQE skew /
    * coalesce / rebalance, DPP, runtime bloom, exchange reuse) cannot
    * cover: AQE only re-plans at EXECUTED shuffle boundaries, so a join
    * ORDER written badly is executed badly once before anything can
    * react — at 100 TB, joining the two big relations first materializes
    * a multi-terabyte intermediate the selective dim would have pruned.
    * The alternative is catalog statistics (`profile_analyze_stats`'s
    * surface) + CBO: with row counts and column stats on all inputs,
    * `CostBasedJoinReorder` re-orders the join graph at OPTIMIZE time.
    * The query is WRITTEN worst-first (fact ⋈ fact-sized customer, the
    * selective nation filter last); the body proves causality in both
    * directions — without CBO the optimizer keeps the written order
    * (bottom join touches orders), with CBO + stats the bottom join
    * pairs customer with the filtered nation and orders joins LAST. The
    * returned frame runs on the CBO clone, so it executes the witnessed
    * plan. Results are order-independent, which is exactly what the
    * fixture-parquet oracle checks. */
  private val cboReorder = Spec(
    "opt_cbo_reorder",
    """SELECT n_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_regionkey = 1
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    val (tOrders, tCust, tNation) = cboTables(s, d)
    val q =
      s"""SELECT n_name, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_price
         |FROM $tOrders
         |JOIN $tCust ON o_custkey = c_custkey
         |JOIN $tNation ON c_nationkey = n_nationkey
         |WHERE n_regionkey = 1
         |GROUP BY n_name ORDER BY n_name""".stripMargin
    // negative control: under the session's default (CBO off) the
    // optimizer preserves the written order — the bottom join reads
    // orders. A planner that reordered here would make the positive
    // witness below vacuous.
    require(bottomJoinString(s.sql(q)).contains(tOrders),
      "control failed: written-order plan no longer starts from orders")
    val out = graft.Sessions.scoped(s.sql(q),
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val bottom = bottomJoinString(out)
    require(bottom.contains(tNation) && !bottom.contains(tOrders),
      "CBO join reorder did not fire — the selective dim still joins " +
        s"last:\n${bottom.take(1500)}")
    out
  }
}
