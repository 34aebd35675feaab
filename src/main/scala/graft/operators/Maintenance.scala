package graft.operators

import org.apache.spark.sql.functions._
import graft.Spec
import graft.sources.Tables

/** Table-maintenance operators — the jobs that keep a 100 TB dataset
  * usable between queries: CDC upserts folded into a base table and
  * one-pass column profiling. (Small-file compaction, the third member of
  * this family, lives in [[Scans]] as `sink_compacted`.)
  */
object Maintenance {
  def specs: Seq[Spec] = Seq(mergeUpsert, profileColumns, snapshotDiff,
    zorderLayout, profileObserve, dsCheckpoint, profileAnalyzeStats,
    dsCacheReuse, profileCrosstab, profileAccumulator, profileStatFunctions,
    profileSketchFunctions, dsTranspose, dsRandomSplit, profileSummary)

  /** `LongAccumulator` — the executor→driver metrics side-channel
    * (`Dataset.observe`'s older, action-scoped sibling; see
    * [[profileObserve]]): counters updated inside a `foreach` action and
    * read on the driver after it completes. Spark's contract makes this
    * exact for ACTIONS — a task's accumulator updates are applied once
    * per SUCCESSFUL task, never double-applied on retry — which is why
    * the pattern is safe for row-count/invariant tripwires but must stay
    * out of TRANSFORMATIONS (stage retries there can re-apply). The
    * emitted row is the accumulator values themselves, so the oracle's
    * plain COUNT aggregate checks the whole side-channel end-to-end. */
  private val profileAccumulator = Spec(
    "profile_accumulator",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) FILTER (o_totalprice > 100000) AS BIGINT)
      |    AS n_large""".stripMargin + "\nFROM orders") { (s, d) =>
    val nRows = s.sparkContext.longAccumulator("graft_acc_rows")
    val nLarge = s.sparkContext.longAccumulator("graft_acc_large")
    Tables.orders(s, d).select(col("o_totalprice")).foreach { r =>
      nRows.add(1)
      if (r.getDouble(0) > 100000) nLarge.add(1)
    }
    val sp = s
    import sp.implicits._
    Seq((nRows.value: Long, nLarge.value: Long)).toDF("n_rows", "n_large")
  }

  /** `df.stat.crosstab` — the pairwise contingency table
    * (DataFrameStatFunctions): the two-column dependence profile a data
    * audit runs before trusting a stratification or split key (a skewed
    * status×priority cell is how a "random" split leaks label balance).
    * One hash-aggregate pass + a driver-side pivot of the (small)
    * distinct-pair set — at 100 TB the cost model is the pair
    * CARDINALITY, not the row count, which is why the inputs must be
    * low-cardinality columns (the same rule as any pivot). The priority
    * is pre-mapped to its digit prefix: crosstab lifts VALUES into
    * COLUMN NAMES, and '4-NOT SPECIFIED' contains a space parquet
    * column names reject — value-derived names need sanitizing, which
    * is itself part of the surface's contract. Oracle: five FILTER
    * counts per status. */
  private val profileCrosstab = Spec(
    "profile_crosstab",
    """SELECT o_orderstatus AS o_orderstatus_prio,
      |  COUNT(*) FILTER (o_orderpriority LIKE '1%') AS "1",
      |  COUNT(*) FILTER (o_orderpriority LIKE '2%') AS "2",
      |  COUNT(*) FILTER (o_orderpriority LIKE '3%') AS "3",
      |  COUNT(*) FILTER (o_orderpriority LIKE '4%') AS "4",
      |  COUNT(*) FILTER (o_orderpriority LIKE '5%') AS "5"
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderstatus"),
        substring(col("o_orderpriority"), 1, 1).as("prio"))
      .stat.crosstab("o_orderstatus", "prio")
      .orderBy(col("o_orderstatus_prio"))
  }

  /** `Dataset.cache` + multi-consumer reuse — the OTHER plan-sharing
    * tool beside [[dsCheckpoint]] (cache keeps lineage and is
    * memory/disk-evictable; checkpoint truncates and is durable): one
    * filtered projection feeds two different aggregations, and the
    * in-line witness requires BOTH consumers to read the
    * InMemoryTableScan — the second consumer must not rescan the
    * parquet. At 100 TB this is the fan-out pattern (one expensive
    * substrate, N report consumers) where a missing cache N-plies the
    * scan bill; Spark's cache registry keys on the logical plan, so
    * repeated invocations share one materialization. */
  private val dsCacheReuse = Spec(
    "ds_cache_reuse",
    """WITH base AS (
      |  SELECT l_returnflag, l_linestatus, l_quantity
      |  FROM lineitem WHERE l_orderkey < 8000)
      |SELECT 'by_flag' AS grp, l_returnflag AS k, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM base GROUP BY l_returnflag
      |UNION ALL
      |SELECT 'by_status', l_linestatus, COUNT(*),
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |FROM base GROUP BY l_linestatus
      |ORDER BY grp, k""".stripMargin) { (s, d) =>
    val base = Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 8000)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .cache()
    def agg(key: String, tag: String) = base.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        graft.functions.Det.dsum(col("l_quantity")).as("sum_qty"))
      .select(lit(tag).as("grp"), col(key).as("k"), col("n"),
        col("sum_qty"))
    val out = agg("l_returnflag", "by_flag")
      .unionAll(agg("l_linestatus", "by_status"))
      .orderBy(col("grp"), col("k"))
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    require(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      s"both consumers must read the cache:\n${p.take(1500)}")
    out
  }

  /** Reliable `Dataset.checkpoint` — lineage truncation, the survival
    * tool of ITERATIVE 100 TB jobs (connected components, LP relaxations,
    * BPE-style loops): every iteration otherwise APPENDS to the logical
    * plan, and at iteration ~50 the driver dies in the optimizer, not
    * the executors. checkpoint(eager) materializes the partitions to the
    * checkpoint directory (HDFS in production — survives executor loss,
    * unlike localCheckpoint) and REPLACES the plan with a scan of them —
    * witnessed in-line: the checkpointed frame's optimized plan must be
    * a LogicalRDD leaf, no parquet relation left. The oracle sees the
    * same rows the truncated plan serves, so the hash check proves the
    * materialize-and-rescan round-trip is lossless. */
  private val dsCheckpoint = Spec(
    "ds_checkpoint",
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_orderkey < 5000
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    s.sparkContext.setCheckpointDir(Scans.scratch(s, "ckpt", d))
    val cp = Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 5000)
      .select(col("l_returnflag"), col("l_quantity"))
      .checkpoint()
    val opt = cp.queryExecution.optimizedPlan.toString
    require(opt.contains("LogicalRDD") && !opt.contains("Relation"),
      s"checkpoint did not truncate the lineage:\n$opt")
    cp.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Det.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` + stats read-back —
    * the CBO feed: at 100 TB, join reorder and broadcast-vs-shuffle
    * decisions run off these catalog statistics, and a pipeline that
    * never ANALYZEs plans every join blind (size-of-files guesses only).
    * The row creates a managed copy (the `sink_table_v2` lifecycle),
    * ANALYZEs it, and reads the stats back through the public DESCRIBE
    * surfaces: table row count from `DESCRIBE EXTENDED`'s Statistics
    * line, per-column min/max/null-count from
    * `DESCRIBE EXTENDED tbl col`. Those four are EXACT by contract and
    * hash-checked against the oracle recomputing them from the data;
    * distinct_count is HLL-approximate by contract, so it ships as a
    * within-±10%-band boolean (the `agg_approx_distinct` pattern). */
  private val profileAnalyzeStats = Spec(
    "profile_analyze_stats",
    """SELECT COUNT(*) AS n_rows,
      |  MIN(c_nationkey) AS min_key, MAX(c_nationkey) AS max_key,
      |  CAST(0 AS BIGINT) AS n_nulls, TRUE AS ndv_in_band
      |FROM customer""".stripMargin) { (s, d) =>
    val key = java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString
      .replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_stats_customer_$key"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val whConf = s.conf.get("spark.sql.warehouse.dir")
    val whPath =
      if (whConf.startsWith("file:")) new java.net.URI(whConf).getPath
      else whConf
    Scans.rmRecursive(new java.io.File(new java.io.File(whPath), tbl))
    Tables.customer(s, d).writeTo(tbl).using("parquet").create()
    s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS c_nationkey")
    val statsLine = s.sql(s"DESCRIBE TABLE EXTENDED $tbl")
      .filter(col("col_name") === "Statistics")
      .collect().headOption.map(_.getString(1)).getOrElse("")
    val nRows = "([0-9]+) rows".r.findFirstMatchIn(statsLine)
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"no row count in catalog stats: '$statsLine'"))
    val colStats = s.sql(s"DESCRIBE TABLE EXTENDED $tbl c_nationkey")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def stat(name: String): String = colStats.getOrElse(name,
      sys.error(s"ANALYZE left no '$name' stat: $colStats"))
    val ndv = stat("distinct_count").toLong
    val exact = Tables.customer(s, d)
      .agg(countDistinct(col("c_nationkey"))).collect()(0).getLong(0)
    import s.implicits._
    Seq((nRows, stat("min").toLong, stat("max").toLong,
      stat("num_nulls").toLong,
      ndv >= (exact * 0.9).toLong && ndv <= (exact * 1.1).toLong))
      .toDF("n_rows", "min_key", "max_key", "n_nulls", "ndv_in_band")
  }

  /** Query-metrics via `Dataset.observe` + `Observation` (VERDICT r13
    * #3) — the monitoring surface a 100 TB pipeline uses for row-count /
    * invariant tripwires WITHOUT a second scan: the observed aggregates
    * ride the same pass that computes the query (an `CollectMetrics`
    * node over the scan), so validating "how many rows entered, how many
    * matched the filter, what did the measure total" costs zero extra
    * I/O. Demonstrated end-to-end: a lineitem scan is observed (row
    * count, returned-flag count, exact decimal quantity sum per [[Det]]),
    * the downstream consumer — the returned-items count a real job would
    * ship — runs as the ONE action, and the tripwire property itself is
    * asserted in-line: the observed `n_returned` must equal the
    * downstream count, or the metrics and the pipeline disagree and the
    * run must not be trusted. The registered result IS the metrics row,
    * so the DuckDB oracle recomputes the same three aggregates
    * declaratively and the hash check covers the whole observe path.
    * A fresh `Observation` per invocation: Spark permits attaching an
    * Observation instance to only one Dataset, once. */
  private val profileObserve = Spec(
    "profile_observe",
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem""".stripMargin) { (s, d) =>
    val obs = org.apache.spark.sql.Observation()
    val observed = Tables.lineitem(s, d).observe(obs,
      count(lit(1)).as("n_rows"),
      count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
      graft.functions.Det.dsum(col("l_quantity")).as("sum_qty"))
    val returned = observed.filter(col("l_returnflag") === "R").count()
    val m = obs.get
    require(m("n_returned").asInstanceOf[Long] == returned,
      s"observe tripwire: observed n_returned=${m("n_returned")} != " +
        s"downstream count $returned")
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("n_returned").asInstanceOf[Long],
      m("sum_qty").asInstanceOf[Double]))
      .toDF("n_rows", "n_returned", "sum_qty")
  }

  /** Snapshot diff — the other direction of CDC from [[mergeUpsert]]:
    * given two versions of a table, emit what changed (added / removed /
    * changed rows), the audit step before trusting any pipeline rewrite.
    * The new snapshot is derived deterministically from the base (updates
    * for keys ≡0 mod 10, deletes ≡1, inserts ≡2 at keys shifted +1e10 —
    * beyond the orderkey range of any TPC-H scale factor this engine
    * would meet) and the diff is ONE full-outer join on the table key. At 100 TB both snapshots share the key layout, so with
    * bucketed/co-partitioned storage this is a zero-shuffle zip join, and
    * the output is change-proportional — never snapshot-sized. The price
    * comparison is on identical IEEE operands in both engines (×1.1 on
    * the same double), so 'changed' membership is bit-deterministic. */
  private val snapshotDiff = Spec(
    "snapshot_diff",
    """WITH old AS (
      |  SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
      |newsnap AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1
      |         ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 10 <> 1
      |  UNION ALL
      |  SELECT o_orderkey + 10000000000, o_totalprice FROM orders
      |  WHERE o_orderkey % 10 = 2)
      |SELECT COALESCE(o.k, n.k) AS o_orderkey,
      |  o.price AS old_price, n.price AS new_price,
      |  CASE WHEN o.k IS NULL THEN 'added'
      |       WHEN n.k IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change_type
      |FROM old o FULL JOIN newsnap n ON o.k = n.k
      |WHERE o.k IS NULL OR n.k IS NULL OR o.price <> n.price
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
    val newSnap = base
      .filter(col("k") % 10 =!= 1)
      .select(col("k").as("nk"),
        when(col("k") % 10 === 0, col("price") * 1.1d)
          .otherwise(col("price")).as("new_price"))
      .unionAll(base.filter(col("k") % 10 === 2)
        .select((col("k") + 10000000000L).as("nk"), col("price")))
    base.join(newSnap, col("k") === col("nk"), "full_outer")
      .filter(col("k").isNull || col("nk").isNull
        || col("price") =!= col("new_price"))
      .select(coalesce(col("k"), col("nk")).as("o_orderkey"),
        col("price").as("old_price"), col("new_price"),
        when(col("k").isNull, "added")
          .when(col("nk").isNull, "removed")
          .otherwise("changed").as("change_type"))
      .orderBy(col("o_orderkey"))
  }

  /** Z-order (Morton) clustering rewrite — the data-layout lever for
    * multi-dimensional pruning, i.e. what table formats call OPTIMIZE
    * ZORDER. Each key is first range-bucketed to 8 bits with a MONOTONE
    * map, bucket = (key·256) div (max+1) — monotone is the property that
    * makes the layout prunable on the RAW columns: a file that owns a
    * narrow z-range owns a narrow bucket range, hence a narrow raw-value
    * range, in BOTH dimensions at once, so plain parquet min/max stats
    * skip it for any 2-D (or either-dimension) predicate. The r4 layout
    * interleaved the keys' low 8 bits instead — bit-exact, but a hash,
    * not monotone: every file spanned the full raw range of both keys and
    * nothing could ever prune (VERDICT r4 #2). MaintenanceSpec now
    * measures the payoff: files whose stats a 2-D box predicate must
    * read, z-layout vs linear sort, plus the executed scan's
    * numOutputRows showing parquet row-group skipping on a dimension the
    * linear sort cannot prune. Production systems bucket by rank
    * (percentile) to absorb skew; value-proportional bucketing is the
    * same mechanism, keeps the arithmetic exact on both engines for the
    * near-uniform fixture keys, and lets the oracle recompute every z
    * bit-for-bit.
    *
    * The bucket + interleave is pure integer arithmetic (mul/div/shift/
    * and/or — no libm); the two global maxes are a 1-row broadcast, the
    * layout write is one range shuffle by zval. */
  private val zorderLayout = Spec(
    "zorder_layout",
    s"""WITH m AS (
       |  SELECT MAX(o_custkey) AS mc, MAX(o_orderkey) AS mk FROM orders)
       |SELECT o_orderkey, o_custkey,
       |  ${Zorder.sql("((o_custkey * 256) // (mc + 1))",
                       "((o_orderkey * 256) // (mk + 1))")} AS zval
       |FROM orders, m ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val dir = Scans.scratch(s, "zorder", d)
    val m = Tables.orders(s, d)
      .agg(max(col("o_custkey")).as("mc"), max(col("o_orderkey")).as("mk"))
    Tables.orders(s, d)
      .crossJoin(broadcast(m))
      .select(col("o_orderkey"), col("o_custkey"),
        Zorder.zcol(
          expr("(o_custkey * 256) div (mc + 1)"),
          expr("(o_orderkey * 256) div (mk + 1)")).as("zval"))
      .repartitionByRange(16, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir).orderBy(col("o_orderkey"))
  }

  /** MERGE INTO semantics on vanilla Spark: a deterministic change feed
    * (updates for keys ≡0 mod 10, deletes for ≡1, inserts for ≡2 at
    * shifted keys) folded into the base table as one left join + filter +
    * union — matched-update, matched-delete, and not-matched-insert in a
    * single pass over the base. The join is keyed on the table key, so at
    * 100 TB it co-partitions with the base's layout; a real CDC batch is
    * small relative to the base and broadcasts (hinted here), making the
    * whole merge map-side — the base is never shuffled. The update
    * multiplies a double by 1.1 on both engines (same IEEE operands ⇒
    * bit-identical), so the oracle hash-checks every merged value.
    *
    * Insert rows are excluded from the matched-side join IN BOTH the
    * engine and the oracle SQL (not just the engine): if a regenerated
    * fixture ever grows orderkeys past the insert-key shift, an
    * asymmetric join would silently turn colliding inserts into matches
    * on one side only — the r4 review caught exactly that latent skew.
    * The shift is 1e10, matching snapshot_diff: TPC-H o_orderkey tops out
    * at 6e6·SF, so 1e10 keeps inserted keys disjoint (and o_orderkey a
    * total order for the order-sensitive oracle compare) up to SF ≈ 1600,
    * where the r4 value of 1e7 collided already at SF ≈ 2 (ADVICE r4). */
  private val mergeUpsert = Spec(
    "merge_upsert",
    """WITH ch AS (
      |  SELECT o_orderkey AS k, 'U' AS op, o_totalprice * 1.1 AS new_price
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'D', NULL FROM orders WHERE o_orderkey % 10 = 1
      |  UNION ALL
      |  SELECT o_orderkey + 10000000000, 'I', o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 2)
      |SELECT * FROM (
      |  SELECT b.o_orderkey,
      |    COALESCE(c.new_price, b.o_totalprice) AS o_totalprice,
      |    CASE WHEN c.op = 'U' THEN 'updated' ELSE 'kept' END AS action
      |  FROM orders b LEFT JOIN (SELECT * FROM ch WHERE op <> 'I') c
      |    ON b.o_orderkey = c.k
      |  WHERE c.op IS NULL OR c.op <> 'D'
      |  UNION ALL
      |  SELECT k, new_price, 'inserted' FROM ch WHERE op = 'I')
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
    val src = base.withColumn("m", pmod(col("o_orderkey"), lit(10)))
    val changes = src.filter(col("m") === 0)
      .select(col("o_orderkey").as("k"), lit("U").as("op"),
        (col("o_totalprice") * 1.1d).as("new_price"))
      .unionAll(src.filter(col("m") === 1)
        .select(col("o_orderkey").as("k"), lit("D").as("op"),
          lit(null).cast("double").as("new_price")))
      .unionAll(src.filter(col("m") === 2)
        .select((col("o_orderkey") + 10000000000L).as("k"), lit("I").as("op"),
          col("o_totalprice").as("new_price")))
    val merged = base
      .join(broadcast(changes.filter(col("op") =!= "I")),
        col("o_orderkey") === col("k"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        coalesce(col("new_price"), col("o_totalprice")).as("o_totalprice"),
        when(col("op") === "U", "updated").otherwise("kept").as("action"))
      .unionAll(changes.filter(col("op") === "I")
        .select(col("k").as("o_orderkey"),
          col("new_price").as("o_totalprice"),
          lit("inserted").as("action")))
    merged.orderBy(col("o_orderkey"))
  }

  /** One-pass column profiler — the ANALYZE/data-quality step every
    * ingestion pipeline runs before trusting a drop: per-column null
    * count, distinct count, and min/max, computed in a SINGLE aggregate
    * over a single scan (PlanSpec asserts it) and then unpivoted to one
    * row per column. Adding a 50th column adds expressions, not passes.
    * Min/max are emitted as strings so one schema fits every column type;
    * only exactly-rendered types participate (integers and strings —
    * doubles would diverge on formatting, the fn_math lesson). */
  private val profileColumns = Spec(
    "profile_columns",
    """SELECT * FROM (
      |  SELECT 'o_orderkey' AS col_name,
      |    COUNT(*) - COUNT(o_orderkey) AS n_nulls,
      |    COUNT(DISTINCT o_orderkey) AS n_distinct,
      |    CAST(MIN(o_orderkey) AS VARCHAR) AS vmin,
      |    CAST(MAX(o_orderkey) AS VARCHAR) AS vmax
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
      |    COUNT(DISTINCT o_custkey),
      |    CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
      |    COUNT(DISTINCT o_orderstatus),
      |    MIN(o_orderstatus), MAX(o_orderstatus)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
      |    COUNT(DISTINCT o_orderpriority),
      |    MIN(o_orderpriority), MAX(o_orderpriority)
      |  FROM orders)
      |ORDER BY col_name""".stripMargin) { (s, d) =>
    def prof(c: String, asString: Boolean) = struct(
      lit(c).as("col_name"),
      (count(lit(1)) - count(col(c))).as("n_nulls"),
      countDistinct(col(c)).as("n_distinct"),
      (if (asString) min(col(c)) else min(col(c)).cast("string")).as("vmin"),
      (if (asString) max(col(c)) else max(col(c)).cast("string")).as("vmax"))
    Tables.orders(s, d)
      .agg(array(
        prof("o_orderkey", asString = false),
        prof("o_custkey", asString = false),
        prof("o_orderstatus", asString = true),
        prof("o_orderpriority", asString = true)).as("profiles"))
      .select(explode(col("profiles")).as("p"))
      .select(col("p.col_name"), col("p.n_nulls"), col("p.n_distinct"),
        col("p.vmin"), col("p.vmax"))
      .orderBy(col("col_name"))
  }

  /** The three `df.stat` driver-side estimator entry points not covered
    * elsewhere (`crosstab` → [[profileCrosstab]], `corr`/`cov` →
    * agg_corr_covar): `approxQuantile` (Greenwald–Khanna rank sketch),
    * `freqItems` (Karp–Shenker–Papadimitriou heavy hitters), `sampleBy`
    * (per-stratum Bernoulli). All three return DRIVER-LOCAL results by
    * design — the distributed work is one pass each, the result is
    * O(probs + items + strata) — so the oracle is the
    * agg_approx_distinct discipline: emit the EXACT companion value
    * where one exists plus a boolean asserting the estimate landed
    * inside its published guarantee, and let the driver's hash compare
    * quantify the bound (oracle emits exact + TRUE).
    *
    *  - approxQuantile(relErr e): the guarantee is RANK, not value —
    *    returned v must occupy some rank in [(p−e)n, (p+e)n]. The rank
    *    interval v occupies is [count(<v)+1, count(≤v)], computed in
    *    one distributed aggregate; ok = the intervals overlap.
    *  - freqItems(support s): one-sided guarantee — every item with
    *    frequency ≥ s·n IS returned (false positives allowed). At
    *    s=0.15 all five uniform ~20% priorities are truly frequent, so
    *    the subset check forces the full recall side; the exact count
    *    of truly-frequent items (5) is DuckDB-replayed.
    *  - sampleBy(f=0.5, seed): per-row Bernoulli, so the per-partition
    *    seeding makes exact contents partitioning-dependent — the
    *    INVARIANT is the binomial band: each stratum's sample size
    *    within 6σ = 6·√(m·f·(1−f)) of f·m, every stratum non-empty
    *    (P(miss) ≤ 2⁻⁴⁵ at the smallest fixture stratum), and the
    *    sample a subset of the source (checked via the stratum counts
    *    never exceeding m). sqrt is IEEE-exact; no libm hazard. */
  private val profileStatFunctions = Spec(
    "profile_stat_functions",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
      |     SELECT o_orderpriority FROM orders GROUP BY o_orderpriority
      |     HAVING COUNT(*) * 100 >= 15 * (SELECT COUNT(*) FROM orders)))
      |    AS freq_exact_n,
      |  TRUE AS freq_superset,
      |  CAST((SELECT COUNT(DISTINCT o_orderstatus) FROM orders)
      |    AS BIGINT) AS n_strata_sampled,
      |  TRUE AS sample_within_band
      |FROM orders""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    val probs = Array(0.25, 0.5, 0.75)
    val relErr = 0.01
    // Round 21 (optimization; guide §2.6 "overlap independent jobs"):
    // this row is ~7 tiny sequential driver actions, so its wall time
    // was job-launch latency × 7, not compute. The four independent
    // chains — (approxQuantile → rank interval → exact-frequency set,
    // a data dependency chain), (freqItems), (per-stratum totals),
    // (seeded sampleBy counts) — now run as concurrent driver threads
    // against the shared scheduler (FIFO back-fill, exactly the guide's
    // pattern); every action, its arguments, and the assembled result
    // row are unchanged, so the output is bit-identical.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fQuantChain = Future {
      val qs = ord.stat.approxQuantile("o_totalprice", probs, relErr)
      // one distributed pass: n plus the rank interval of each returned
      // quantile value (count(<v), count(<=v))
      val rankAgg = ord.agg(
        count(lit(1)).as("n"),
        sum(when(col("o_totalprice") < qs(0), 1L).otherwise(0L)),
        sum(when(col("o_totalprice") <= qs(0), 1L).otherwise(0L)),
        sum(when(col("o_totalprice") < qs(1), 1L).otherwise(0L)),
        sum(when(col("o_totalprice") <= qs(1), 1L).otherwise(0L)),
        sum(when(col("o_totalprice") < qs(2), 1L).otherwise(0L)),
        sum(when(col("o_totalprice") <= qs(2), 1L).otherwise(0L)))
        .collect()(0)
      val n = rankAgg.getLong(0)
      // Integer arithmetic on BOTH engines (ADVICE r15 #3): the
      // threshold compare is count*100 >= 15*n in exact Long math here
      // and in the oracle SQL — a group landing exactly on the 15%
      // boundary would otherwise adjudicate differently between double
      // (Spark) and DECIMAL (DuckDB) forms and break the hash.
      val exactFreq = ord.groupBy(col("o_orderpriority")).count()
        .filter(col("count") * lit(100L) >= lit(15L) * lit(n))
        .collect().map(_.getString(0)).toSet
      (rankAgg, n, exactFreq)
    }
    val fFreqSet = Future {
      ord.stat.freqItems(Array("o_orderpriority"), 0.15)
        .collect()(0).getSeq[String](0).toSet
    }
    val fractions: Map[String, Double] =
      Map("F" -> 0.5, "O" -> 0.5, "P" -> 0.5)
    val fStrata = Future {
      ord.groupBy(col("o_orderstatus")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val fSample = Future {
      ord.stat.sampleBy("o_orderstatus", fractions, 42L)
        .groupBy(col("o_orderstatus")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val (rankAgg, n, exactFreq) =
      try Await.result(fQuantChain, Duration.Inf)
      finally {
        // await every chain before leaving (even on failure) so no
        // detached job outlives the query; then release the pool
        Seq(fFreqSet, fStrata, fSample).foreach(f =>
          Await.ready(f, Duration.Inf))
        pool.shutdown()
      }
    val freqSet = Await.result(fFreqSet, Duration.Inf)
    val strataM = Await.result(fStrata, Duration.Inf)
    val sampleM = Await.result(fSample, Duration.Inf)
    def qOk(i: Int): Boolean = Bands.rankWithin(
      rankAgg.getLong(1 + 2 * i) + 1, rankAgg.getLong(2 + 2 * i),
      probs(i), relErr, n)
    val bandsOk = strataM.forall { case (k, m) =>
      Bands.binomialWithin(sampleM.getOrElse(k, 0L), m, fractions(k), 6.0)
    }
    val sp = s
    import sp.implicits._
    Seq((n, qOk(0), qOk(1), qOk(2),
      exactFreq.size.toLong, exactFreq.subsetOf(freqSet),
      sampleM.size.toLong, bandsOk))
      .toDF("n_rows", "q25_ok", "q50_ok", "q75_ok", "freq_exact_n",
        "freq_superset", "n_strata_sampled", "sample_within_band")
  }

  /** The two `df.stat` SKETCH builders — `bloomFilter` (membership) and
    * `countMinSketch` (frequency) — completing the DataFrameStatFunctions
    * surface beside [[profileStatFunctions]]/[[profileCrosstab]]/
    * agg_corr_covar. Both are one distributed pass producing a mergeable
    * driver-local sketch; at 100 TB they are the BUILD side of the two
    * standard sketch patterns (ship the bloom filter back into a scan
    * filter — the manual form of the runtime bloom join the engine pins
    * in `join_runtime_bloom`; keep CMS per shard and merge for
    * heavy-hitter monitoring). Published guarantees, checked exactly:
    * a Bloom filter has NO false negatives (every present probe must
    * hit — a hard boolean over a deterministic 1000-key present set)
    * and its false-positive rate on definitely-absent probes (negative
    * keys; the custkey domain is positive) stays within a 6σ binomial
    * band of the requested fpp (expected items sized from the exact
    * distinct count, so the bound applies at any sf). CMS NEVER
    * undercounts (estimate ≥ exact per key — hard), and overcount is
    * bounded by ε·N at confidence δ (band boolean; ε·N = 0.0001·n).
    * Oracle = the exact companions + TRUE literals, the
    * agg_approx_distinct discipline. */
  private val profileSketchFunctions = Spec(
    "profile_sketch_functions",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  TRUE AS bloom_no_false_neg, TRUE AS bloom_fp_within_band,
      |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS cms_n_keys,
      |  TRUE AS cms_ge_exact, TRUE AS cms_within_eps,
      |  CAST(COUNT(*) AS BIGINT) AS cms_total
      |FROM orders""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    val fpp = 0.03
    val eps = 0.0001
    // Round 21 ([[Overlap.overlapped]], guide §2.6): the four
    // independent chains — (ndv → bloom build), (present-key probe
    // collect), (CMS build), (exact counts) — overlap; every action and
    // every check is unchanged, so the output row is bit-identical.
    val (bf, present, cms, exact) = Overlap.overlapped(4) { implicit ec =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val fBloom = Future {
        val nDistinct = ord.agg(countDistinct(col("o_custkey")))
          .collect()(0).getLong(0)
        ord.stat.bloomFilter("o_custkey", math.max(nDistinct, 1L), fpp)
      }
      // no-false-negative probe: the custkeys of the first 1000 orders
      val fPresent = Future {
        ord.orderBy(col("o_orderkey")).limit(1000)
          .select(col("o_custkey")).collect().map(_.getLong(0))
      }
      val fCms = Future {
        ord.stat.countMinSketch(col("o_orderpriority"), eps, 0.999, 42)
      }
      val fExact = Future {
        ord.groupBy(col("o_orderpriority")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1))
      }
      (Await.result(fBloom, Duration.Inf),
        Await.result(fPresent, Duration.Inf),
        Await.result(fCms, Duration.Inf),
        Await.result(fExact, Duration.Inf))
    }
    val noFalseNeg = present.forall(bf.mightContain)
    // fp band probe: negative keys are outside the (positive) domain
    val absentProbes = 2000
    val fpCount = (1 to absentProbes).count(i => bf.mightContain(-i.toLong))
    val fpOk = Bands.bloomFpWithin(fpCount.toLong, absentProbes, fpp, 6.0)
    val total = exact.map(_._2).sum
    val geExact = exact.forall { case (k, n) => cms.estimateCount(k) >= n }
    val withinEps = exact.forall { case (k, n) =>
      Bands.cmsWithin(cms.estimateCount(k), n, eps, total)
    }
    val sp = s
    import sp.implicits._
    Seq((total, noFalseNeg, fpOk, exact.length.toLong, geExact, withinEps,
      cms.totalCount()))
      .toDF("n_orders", "bloom_no_false_neg", "bloom_fp_within_band",
        "cms_n_keys", "cms_ge_exact", "cms_within_eps", "cms_total")
  }

  /** `Dataset.transpose` (new public API in Spark 4) — rows↔columns
    * flip keyed by an index column: the report-rendering step after an
    * aggregation, where metrics become rows and the (small) group
    * domain becomes columns. The SCALE rule is the same as pivot's:
    * transpose the AGGREGATE, never the fact — the input here is the
    * 3-row per-status aggregate, so the flip is a driver-trivial
    * reshape of an already-reduced frame (the index values are lifted
    * into the schema at plan time, which is exactly why an unbounded
    * index column would be wrong). Values all cast to the least common
    * type (DOUBLE here — transpose requires one common value type);
    * counts and exact-decimal sums are integer-exact in DOUBLE far
    * below 2^53. Oracle replays the flip as FILTER-aggregate rows. */
  private val dsTranspose = Spec(
    "ds_transpose",
    """SELECT 'n_orders' AS metric,
      |  CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS DOUBLE) AS "F",
      |  CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS DOUBLE) AS "O",
      |  CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS DOUBLE) AS "P"
      |FROM orders
      |UNION ALL
      |SELECT 'revenue',
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |    FILTER (o_orderstatus = 'F') AS DOUBLE),
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |    FILTER (o_orderstatus = 'O') AS DOUBLE),
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |    FILTER (o_orderstatus = 'P') AS DOUBLE)
      |FROM orders
      |ORDER BY metric""".stripMargin) { (s, d) =>
    val agg = Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("double").as("n_orders"),
        graft.functions.Det.dsum(col("o_totalprice")).as("revenue"))
    agg.transpose(col("o_orderstatus"))
      .select(col("key").as("metric"), col("F"), col("O"), col("P"))
      .orderBy(col("metric"))
  }

  /** `Dataset.summary` — the one describe-family ENTRY POINT not
    * otherwise exercised ([[profileColumns]] hand-rolls the same
    * profile as expressions; `profile_analyze_stats` reads the
    * catalog's ANALYZE output; this row calls the API users actually
    * reach for first). summary() renders every statistic as a STRING,
    * which sets the oracle rule: hash only stats whose string form is
    * engine-portable — count/min/max over INTEGER key columns render
    * identically everywhere, while mean over doubles is
    * accumulation-order-dependent, so it is parsed back and checked as
    * a 1e-9-relative band against the exact decimal mean (boolean
    * column; the agg_stats_builtin discipline — never hash a
    * double-accumulated builtin cross-engine). One pass per stat
    * family at any scale; the output is O(stats × columns). */
  private val profileSummary = Spec(
    "profile_summary",
    """SELECT 'count' AS summary,
      |  CAST(COUNT(o_orderkey) AS VARCHAR) AS o_orderkey,
      |  CAST(COUNT(o_custkey) AS VARCHAR) AS o_custkey,
      |  TRUE AS mean_price_ok
      |FROM orders
      |UNION ALL
      |SELECT 'max', CAST(MAX(o_orderkey) AS VARCHAR),
      |  CAST(MAX(o_custkey) AS VARCHAR), TRUE FROM orders
      |UNION ALL
      |SELECT 'min', CAST(MIN(o_orderkey) AS VARCHAR),
      |  CAST(MIN(o_custkey) AS VARCHAR), TRUE FROM orders
      |ORDER BY summary""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    // Round 21 ([[Overlap.overlapped]], guide §2.6): the summary-mean
    // render and its exact-decimal companion are independent actions.
    val (meanStr, exact) = Overlap.overlapped(2) { implicit ec =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val fMean = Future {
        ord.select(col("o_totalprice")).summary("mean")
          .collect()(0).getString(1)
      }
      val fExact = Future {
        ord.agg(
          graft.functions.Det.dsum(col("o_totalprice")),
          count(col("o_totalprice"))).collect()(0)
      }
      (Await.result(fMean, Duration.Inf), Await.result(fExact, Duration.Inf))
    }
    val exactMean = exact.getDouble(0) / exact.getLong(1)
    // Band scales with row count (ADVICE r15 #2, rationale in
    // Bands.meanTol): at sf0.1 (n≈1.5e5) the 1e-9 floor governs; at
    // 100 TB (n≈1.5e11) the band is ~6e-5 — still far below any
    // data-quality-relevant drift.
    val meanOk = Bands.meanWithin(meanStr.toDouble, exactMean,
      exact.getLong(1))
    ord.select(col("o_orderkey"), col("o_custkey"))
      .summary("count", "min", "max")
      .withColumn("mean_price_ok", lit(meanOk))
      .orderBy(col("summary"))
  }

  /** `Dataset.randomSplit` — the train/val/test partitioner every
    * model pipeline calls (the seeded-API twin of `llm_split_hash`'s
    * md5-deterministic split: randomSplit re-draws per partition from
    * the seed, so exact membership is partitioning-dependent, while
    * the hash split is content-deterministic — the tradeoff this pair
    * of rows documents). The CONTRACT is what's invariant and what
    * this row witnesses: the splits are DISJOINT and COMPLETE (Spark
    * implements them as adjacent [lo,hi) slices of one per-row uniform
    * draw, so the union count equals the source count exactly — both
    * checked distributedly, the disjointness via distinct-key count
    * over the unioned splits), and each split's size lands in a 6σ
    * binomial band of its normalized weight. Oracle = exact count +
    * TRUE literals. */
  private val dsRandomSplit = Spec(
    "ds_random_split",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  TRUE AS complete_ok, TRUE AS disjoint_ok, TRUE AS bands_ok
      |FROM orders""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d).select(col("o_orderkey"))
    val weights = Array(0.6, 0.3, 0.1)
    val splits = ord.randomSplit(weights, 7L)
    // Round 21 ([[Overlap.overlapped]], guide §2.6): five independent
    // counts (three split sizes, the source total, the distinct-union
    // disjointness probe) overlap instead of running back-to-back.
    // randomSplit membership is seeded per partition and each count is
    // its own job over the same deterministic draw, so concurrency
    // cannot change any count.
    val (counts, n, distinctN) = Overlap.overlapped(5) { implicit ec =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val fCounts = splits.map(sp0 => Future(sp0.count()))
      val fN = Future(ord.count())
      val fDistinct = Future(splits.reduce(_ unionAll _)
        .distinct().count())
      (fCounts.map(Await.result(_, Duration.Inf)),
        Await.result(fN, Duration.Inf),
        Await.result(fDistinct, Duration.Inf))
    }
    val completeOk = counts.sum == n
    val disjointOk = distinctN == n
    val bandsOk = weights.zip(counts).forall { case (w, c) =>
      Bands.binomialWithin(c, n, w, 6.0)
    }
    val sp = s
    import sp.implicits._
    Seq((n, completeOk, disjointOk, bandsOk))
      .toDF("n_rows", "complete_ok", "disjoint_ok", "bands_ok")
  }
}

/** Round-21 optimization helper (guide §2.6 "overlap independent
  * jobs"): run `body` with a small dedicated ExecutionContext so a
  * collect-witness row's INDEPENDENT driver actions can overlap —
  * Spark's scheduler happily runs several jobs at once inside one
  * application; rows built from ~5-7 tiny sequential actions were
  * paying job-launch latency × actions, not compute. The pool is
  * always drained before return (shutdown + awaitTermination in
  * finally), so no detached job can outlive its query even on the
  * exception path. Actions, arguments and assembled results are the
  * caller's — overlapping changes scheduling only, never output. */
private[graft] object Overlap {
  def overlapped[T](nThreads: Int)(
      body: scala.concurrent.ExecutionContext => T): T = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    try body(scala.concurrent.ExecutionContext.fromExecutor(pool))
    finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES): Unit
    }
  }
}

/** Falsifiable band predicates for the estimator rows (VERDICT r15 #5).
  *
  * The band-oracle rows (`profile_stat_functions`,
  * `profile_sketch_functions`, `profile_summary`, ds_random_split, the
  * agg_approx_distinct family) emit booleans the ENGINE computes while
  * the DuckDB oracle only checks their exact companions — so a broken
  * band check would emit TRUE and still hash-match. Factoring each
  * published-guarantee predicate here with its THRESHOLD as a parameter
  * makes the checks provably live: BandsSpec corrupts the threshold
  * against the real estimator output (demand fp ≤ 0, a 0σ band, ε = 0
  * on a sketch forced to collide) and asserts the boolean flips. The
  * Spec bodies call these same functions, so a test-green predicate is
  * the predicate the registered row ships. */
private[graft] object Bands {
  /** approxQuantile(relErr e) rank guarantee: the returned value's
    * occupied rank interval [lo, hi] must overlap [(p−e)n, (p+e)n]. */
  def rankWithin(lo: Long, hi: Long, p: Double, relErr: Double,
      n: Long): Boolean =
    lo <= (p + relErr) * n && hi >= (p - relErr) * n

  /** Bernoulli(f) sample of an m-row stratum: observed size within
    * `sigmas`·√(m·f·(1−f)) of f·m and never exceeding the stratum. */
  def binomialWithin(observed: Long, m: Long, f: Double,
      sigmas: Double): Boolean =
    observed <= m &&
      math.abs(observed - f * m) <= sigmas * math.sqrt(m * f * (1 - f))

  /** Bloom false-positive count over definitely-absent probes within a
    * `sigmas` binomial band of the requested fpp. */
  def bloomFpWithin(fpCount: Long, probes: Long, fpp: Double,
      sigmas: Double): Boolean =
    fpCount <= probes * fpp + sigmas * math.sqrt(probes * fpp * (1 - fpp))

  /** CMS overcount bound: estimate ≤ exact + ⌈ε·N⌉ (the ε-δ contract;
    * never-undercounts is checked separately as a hard boolean). */
  def cmsWithin(est: Long, exact: Long, eps: Double, total: Long): Boolean =
    est <= exact + (eps * total).ceil.toLong

  /** Relative tolerance for a double-accumulated mean vs the exact
    * decimal mean: naive summation error grows ~n·eps, so the band
    * scales as n·4e-16 (2× machine eps per add, conservative vs
    * Spark's partial-agg tree), floored at 1e-9 for small n. */
  def meanTol(n: Long): Double = math.max(1e-9, 4e-16 * n.toDouble)

  def meanWithin(measured: Double, exact: Double, n: Long): Boolean =
    math.abs(measured - exact) <= meanTol(n) * math.abs(exact)

  /** Column form of the relative band — the flag agg_approx_distinct
    * ships (|approx − exact| ≤ width·exact), distributed so the check
    * rides the aggregate's own pass. */
  def relBandCol(approx: org.apache.spark.sql.Column,
      exact: org.apache.spark.sql.Column, width: Double)
      : org.apache.spark.sql.Column =
    abs(approx - exact) <= exact * lit(width)

  /** Column relative band with an absolute floor at 1 — the
    * agg_stats_builtin discipline for near-zero statistics (a pure
    * relative band would demand impossible precision as ex → 0). */
  def relBandFloorCol(b: org.apache.spark.sql.Column,
      ex: org.apache.spark.sql.Column, width: Double)
      : org.apache.spark.sql.Column =
    abs(b - ex) <= lit(width) * greatest(lit(1.0), abs(ex))
}

/** Morton (z-order) interleave of the low 8 bits of two non-negative
  * integer keys: bit i of `a` lands at position 2i, bit i of `b` at
  * 2i+1. Identical formulas emitted as a Catalyst column (codegen'd
  * shift/and/or builtins) and as DuckDB SQL so the two engines agree on
  * every bit; 16 bits of z-resolution is enough to order 2^16 cells,
  * which at any realistic file count (≪ 65536) clusters files exactly. */
object Zorder {
  private val bits = 0 until 8

  /** Catalyst expression form. */
  def zcol(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val am = a % 256
    val bm = b % 256
    bits.map { i =>
      shiftleft(shiftright(am, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(bm, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _).cast("long")
  }

  /** DuckDB mirror of [[zcol]] (same bits, same positions). */
  def sql(a: String, b: String): String =
    bits.map { i =>
      s"((((($a % 256) >> $i) & 1) << ${2 * i}) | " +
        s"(((($b % 256) >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("CAST((", " | ", ") AS BIGINT)")
}
