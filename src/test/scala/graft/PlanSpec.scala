package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits — the 100 TB mandate made executable. A query that
  * silently loses predicate pushdown, column pruning, or a broadcast works
  * fine at sf0.01 and dies at scale; these tests pin the plan shapes.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, SF001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("filter_date pushes the date range into the parquet scan") {
    val p = plan("filter_date")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("project prunes the scan to the referenced columns only") {
    val p = plan("project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_extendedprice"),
      read)
    assert(!read.contains("l_shipdate") && !read.contains("l_returnflag"),
      s"scan reads pruned columns: $read")
  }

  test("join_broadcast plans broadcast hash joins, no shuffle of dims") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("join_inner_hash is a hash join, never a cartesian product") {
    val p = plan("join_inner_hash")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("agg_hash_group uses two-phase hash aggregation") {
    val p = plan("agg_hash_group")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), s"no map-side partial aggregate: $p")
  }

  test("limit_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("join_bnlj_theta pins BroadcastNestedLoopJoin with nation as build side") {
    val p = plan("join_bnlj_theta")
    // the pure non-equi predicate admits no hash/merge join; the correct
    // shape is BNLJ streaming supplier against the broadcast 25-row nation
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(900))
    assert(p.contains("BuildRight"), p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("scan_partition_prune prunes directories via PartitionFilters") {
    val p = plan("scan_partition_prune")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("c_nationkey"),
      s"partition predicate not in PartitionFilters: $pf\n${p.take(600)}")
    // the predicate must NOT fall through to row-level pushed filters
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(!pushed.contains("c_nationkey"),
      s"partition predicate leaked into data filters: $pushed")
  }

  test("sql_star_except prunes the excluded columns out of the scan") {
    val p = plan("sql_star_except")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("c_custkey") && read.contains("c_acctbal"), read)
    assert(!read.contains("c_name") && !read.contains("c_mktsegment"),
      s"* EXCEPT failed to prune the scan: $read")
  }

  test("ts_interpolate_linear shares ONE shuffle across both window frames") {
    val p = plan("ts_interpolate_linear")
    // both IGNORE-NULLS frames partition+order identically, so Catalyst
    // must plan them over a single hashpartitioning exchange — a second
    // exchange would re-shuffle the full series table at scale
    val shuffles = p.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$p")
  }

  test("graph_pagerank loop is shallow: BHJ over truncated leaves, no SMJ") {
    // The registered fn materializes eagerly and returns a
    // LocalRelation a plan audit would see nothing in — audit the
    // factored-out runner's FINAL-iteration frame instead (iterations
    // 1–4 are localCheckpoint-truncated; the last one is left lazy as
    // the loop witness). The plan must be the Pregel shape: every loop
    // join broadcast, every leaf a materialized checkpoint (Scan
    // ExistingRDD — lineage truncation, NOT a re-expansion into the
    // 4-table edge derivation), no sort-merge join, no cartesian, and
    // no parquet relation surviving into the loop.
    val lazyRanks = graft.operators.Analytics.pagerankRun(spark, SF001)
    val p = lazyRanks.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(p.contains("Scan ExistingRDD"),
      s"truncated checkpoint leaves missing from the loop plan: ${p.take(900)}")
    assert(!p.contains("Scan parquet"),
      s"loop plan re-expanded into the edge derivation:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"), p.take(900))
    val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj == 0,
      s"loop joins degraded to $smj SMJs (lineage re-expansion?):\n$p")
  }

  test("sql_udf_scalar inlines: composition in codegen, body predicate pushed") {
    val p = plan("sql_udf_scalar")
    // a SQL-language UDF is sugar, not a black box: no UDF node may
    // survive into the plan, the composed net/band bodies must sit in a
    // codegen'd Project, and is_big's simple-comparison body must reach
    // the parquet scan's pushed filters — the three costs the Scala-UDF
    // row (fn_udf_scalar) pays that this surface must NOT
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"), p.take(900))
    // (the adaptive formatted plan renders codegen spans only after
    // execution — absence-of-UDF-node + pushdown are the inline witness)
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan(o_totalprice,190000.0)"),
      s"SQL UDF predicate body did not inline into the scan: $pushed")
  }

  test("sql_udf_table expands to a Generate — no per-row subquery loop") {
    val p = plan("sql_udf_table")
    assert(p.contains("Generate"), p.take(900))
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"LATERAL TVF degraded to a join loop:\n${p.take(900)}")
    // The scale rule the operator's doc states: Catalyst's domain-join
    // decorrelation CLONES the outer relation, and only predicates
    // beneath the lateral reach the clone — every documents scan in
    // this plan must therefore carry the pushed doc_id range. An
    // unfiltered clone here means the domain branch would shuffle the
    // whole corpus at scale (the round-15 audit found exactly that
    // before the filter moved beneath the lateral).
    val scans = p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
    val pushed = p.linesIterator
      .count(l => l.contains("PushedFilters") && l.contains("LessThan(doc_id,60)"))
    assert(scans >= 1 && pushed == scans,
      s"$pushed of $scans documents scans carry the pushed filter — the " +
        s"domain clone lost it:\n$p")
  }

  test("sql_tvf_range plans the synthetic Range leaf, no file scan") {
    val p = plan("sql_tvf_range")
    assert(p.contains("Range"), p.take(900))
    assert(!p.contains("Scan parquet"), s"range TVF should not read files: $p")
  }

  test("join_theta_range anchors on the equi key (hash join + residual), not BNLJ") {
    val p = plan("join_theta_range")
    assert(!p.contains("BroadcastNestedLoopJoin")
      || p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"pure nested loop for a keyed band join: $p")
  }

  test("join_bucketed runs shuffle-free: no exchange below the join or agg") {
    val p = plan("join_bucketed")
    assert(p.contains("Bucketed: true"), p.take(600))
    assert(p.contains("SortMergeJoin"), p.take(600))
    // the ONLY exchange allowed is the final ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles: ${p.take(900)}")
  }

  test("sink_partitioned read-back prunes to one partition directory") {
    val p = plan("sink_partitioned")
    val line = p.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(line.contains("o_orderstatus"),
      s"no partition filter on the partitioned read: $line")
  }

  test("agg_percentile groups without a global sort") {
    val p = plan("agg_percentile")
    // percentile is an ObjectHashAggregate/SortAggregate per group — fine;
    // what must NOT appear is a whole-table Sort before aggregation
    val aggIdx = p.indexOf("Aggregate")
    assert(aggIdx >= 0, p)
  }

  test("llm_contamination broadcasts the eval shingle set") {
    val p = plan("llm_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("llm_bpe_apply is map-only: no exchange but the sort's") {
    // Segmentation + merge replaces run inside a transform lambda and
    // the piece counts fold with aggregate() — a hashpartitioning
    // exchange here would mean the rejected rollup+join formulation
    // (two corpus-wide shuffles) crept back in.
    val p = plan("llm_bpe_apply")
    assert(!p.contains("hashpartitioning"), p.take(1200))
    assert(p.contains("Scan parquet"), p.take(1200))
  }

  test("llm_ann_lsh: probe sides broadcast, corpus never shuffle-joined") {
    // Query-directed LSH (round 8): the driver-computed probe-bucket list
    // and the 10 probe embeddings are broadcast into the candidate join,
    // so the corpus is scanned once and STREAMS through two
    // BroadcastHashJoins — a SortMergeJoin here would mean the corpus is
    // being shuffled per probe set, the shape that dies at 100 TB.
    val p = plan("llm_ann_lsh")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"),
      "corpus-side shuffle join in the LSH candidate plan:\n" + p.take(1200))
  }

  test("llm_split_hash is a pure projection: no exchange but the sort's") {
    // Only the final ORDER BY's rangepartitioning exchange is allowed; any
    // hashpartitioning exchange would mean the map-only guarantee broke.
    val p = plan("llm_split_hash")
    assert(!p.contains("hashpartitioning"), p.take(1200))
    assert(p.contains("Scan parquet"), p.take(1200))
  }

  private def windowPartitionSpecs(name: String) =
    SparkEntry.queries(name)(spark, SF001).queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec
    }

  test("win_ntile ranks under a partitioned window — no one-task funnel") {
    val specs = windowPartitionSpecs("win_ntile")
    assert(specs.nonEmpty, "expected the per-range-partition rank window")
    assert(specs.forall(_.nonEmpty),
      "a WindowExec with an empty partition spec moves ALL rows to one task")
  }

  test("llm_vocab takes top-k without a corpus-wide window or global sort") {
    val df = SparkEntry.queries("llm_vocab")(spark, SF001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 should be per-partition top-k, not a global sort: ${p.take(1200)}")
    val specs = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec
    }
    assert(specs.forall(_.nonEmpty),
      "rank/cumsum window must be partitioned (input is k-bounded)")
  }

  test("join_salted stays an equi hash join on (key, salt) — never a loop") {
    val p = plan("join_salted")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(900))
    // Round 17 (probe memory axis): the salted demo must take the
    // SHUFFLE join — Spark was broadcasting the r×-exploded dim at the
    // 8× amplification (1.25 GB per-task build, slower than SMJ).
    // Salting demonstrates the no-broadcast regime by definition.
    assert(p.contains("SortMergeJoin"), p.take(900))
    assert(!p.contains("BroadcastHashJoin"), p.take(900))
  }

  test("llm_sample_stratified is map-only: no exchange but the sort's") {
    val p = plan("llm_sample_stratified")
    assert(!p.contains("hashpartitioning"), p.take(1200))
    assert(p.contains("Scan parquet"), p.take(1200))
  }

  test("llm_winsorize broadcasts the per-language quantile table") {
    val p = plan("llm_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("llm_embed_quantize is map-only: no exchange but the sort's") {
    val p = plan("llm_embed_quantize")
    assert(!p.contains("hashpartitioning"), p.take(1200))
    assert(p.contains("Scan parquet"), p.take(1200))
  }

  test("llm_filter_funnel is one pass: single scan, two-phase global agg") {
    val p = plan("llm_filter_funnel")
    // One "Location:" line per scan node in the formatted detail section.
    assert(p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
        == 1,
      s"funnel must not rescan per stage: ${p.take(1200)}")
    assert(p.contains("HashAggregate") && p.contains("partial"),
      p.take(1200))
  }

  test("llm_instruction_format is map-only: no exchange but the sort's") {
    val p = plan("llm_instruction_format")
    assert(!p.contains("hashpartitioning"), p.take(1200))
  }

  test("llm_oov_rate broadcasts the k-bounded vocab and takes top-k sorted") {
    val p = plan("llm_oov_rate")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab must broadcast, never shuffle the token stream: ${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be per-partition top-k, not a global sort: ${p.take(1200)}")
  }

  test("sql_tpch_q3 (pure SQL entry) still gets the DataFrame-grade plan") {
    val p = plan("sql_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"),
      s"ORDER BY+LIMIT must fuse to top-k: ${p.take(1200)}")
    assert(p.contains("PushedFilters"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"),
      s"the filtered dims should broadcast at this size: ${p.take(1200)}")
  }

  test("merge_upsert broadcasts the change feed; the base never shuffles") {
    val p = plan("merge_upsert")
    assert(p.contains("BroadcastHashJoin"),
      s"CDC merge must broadcast the (small) change feed: ${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("profile_columns profiles every column in ONE scan of the table") {
    val p = plan("profile_columns")
    assert(p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
        == 1,
      s"profiler must not rescan per column: ${p.take(1200)}")
  }

  test("join_bloom plants a runtime bloom filter above the fact scan") {
    val p = plan("join_bloom")
    // Spark 4.x prints BloomFilterMightContain as `might_contain`
    assert(p.contains("might_contain"),
      s"no runtime bloom filter injected on the fact side: ${p.take(1500)}")
  }

  test("join_dpp prunes fact partitions at runtime from the dim filter") {
    val p = plan("join_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamicpruningexpression in the partitioned scan: ${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("NO query in the engine plans an unpartitioned window") {
    // The blanket form of the two targeted assertions above: a WindowExec
    // with an empty partition spec moves EVERYTHING through one task — at
    // 100 TB that is the difference between a plan and an outage. Every
    // registered query must be free of them.
    val offenders = SparkEntry.specNames.flatMap { name =>
      val specs = windowPartitionSpecs(name)
      if (specs.forall(_.nonEmpty)) None else Some(name)
    }
    assert(offenders.isEmpty,
      s"queries with a one-task window funnel: ${offenders.mkString(", ")}")
  }

  test("agg_unpivot melts via a map-only Expand, one shuffle for the agg") {
    val p = plan("agg_unpivot")
    assert(p.contains("Expand"), s"unpivot should plan as Expand: ${p.take(800)}")
    // one scan, one hash-partitioned exchange (the 4-group aggregate); a
    // UNION-of-scans shape would read the table once per metric
    assert(p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
        == 1, s"unpivot must not rescan per metric: ${p.take(1200)}")
    // formatted mode puts the partitioning on the Arguments detail line
    assert(p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
        == 1, p.take(1200))
  }

  test("agg_sketch_hll builds sketches with a partial (map-side) phase") {
    val p = plan("agg_sketch_hll")
    assert(p.contains("hll_sketch_agg") || p.contains("HllSketchAgg"),
      p.take(1200))
    assert(p.contains("partial"),
      s"sketch aggregation must combine map-side: ${p.take(1200)}")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("snapshot_diff is one keyed full-outer join, never a nested loop") {
    val p = plan("snapshot_diff")
    assert(p.contains("FullOuter"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      s"diff must join on the key: ${p.take(1200)}")
  }

  test("scan_csv_corrupt audits the load in one aggregate over one scan") {
    val p = plan("scan_csv_corrupt")
    assert(p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
        == 1, s"one pass over the dirty drop: ${p.take(1200)}")
    assert(p.contains("partial"), p.take(1200))
  }

  test("sql_tpch_q18 decorrelates the HAVING subquery into a semi join") {
    val p = plan("sql_tpch_q18")
    assert(p.contains("LeftSemi"),
      s"IN-subquery must plan as a semi join, not re-execute per row: " +
        p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("sql_tpch_q4 decorrelates EXISTS into a semi join on l_orderkey") {
    val p = plan("sql_tpch_q4")
    assert(p.contains("LeftSemi"),
      s"correlated EXISTS must plan as one semi probe: ${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(1200))
  }

  test("sql_tpch_q21 plans ONE semi + ONE anti probe of lineitem") {
    val p = plan("sql_tpch_q21")
    assert(p.contains("LeftSemi"),
      s"multi-supplier EXISTS must be a semi join: ${p.take(1500)}")
    assert(p.contains("LeftAnti"),
      s"only-late NOT EXISTS must be an anti join: ${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(1500))
  }

  test("sql_tpch_q22 folds the scalar avg and anti-joins date-pruned orders") {
    val p = plan("sql_tpch_q22")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS must be an anti join: ${p.take(1500)}")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"threshold must be a once-evaluated scalar subquery: ${p.take(1500)}")
    // the inactivity date filter must reach the orders scan that builds
    // the anti probe — at 100 TB that prunes years of partitions
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"anti probe must build from a date-pruned orders slice: " +
        p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(1500))
  }

  test("sql_tpch_q7 broadcasts both nation roles; lineitem scanned once") {
    val p = plan("sql_tpch_q7")
    assert(p.contains("BroadcastHashJoin"),
      s"dims must broadcast: ${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      s"the OR nation-pair predicate must stay a post-join residual, " +
        s"not degrade the joins: ${p.take(1500)}")
  }

  test("sql_tpch_q8 keeps the 7-table star on hash joins") {
    val p = plan("sql_tpch_q8")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(1500))
  }

  test("sql_tpch_q13 keeps the ON-clause filter inside the outer join") {
    val p = plan("sql_tpch_q13")
    assert(p.contains("LeftOuter"),
      s"zero-order customers must survive: ${p.take(1200)}")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("sql_tpch_q15 evaluates the max-revenue threshold as a scalar subquery") {
    val p = plan("sql_tpch_q15")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(1200))
  }

  test("sql_tpch_q19 keeps the equi hash join under the OR disjunction") {
    val p = plan("sql_tpch_q19")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"join must anchor on p_partkey = l_partkey: ${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      s"disjunctive predicate must be a residual, not the join: " +
        p.take(1500))
  }

  test("stream_join_then_window folds to join + two-phase agg in batch") {
    val p = plan("stream_join_then_window")
    assert(p.contains("HashAggregate"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      s"the interval condition must ride an equi join on user_id: " +
        p.take(1500))
  }

  test("stream_rocksdb_state batch twin is one two-phase window aggregate") {
    val p = plan("stream_rocksdb_state")
    assert(p.linesIterator.count(_.contains("partial_")) >= 1,
      s"map-side partial aggregation expected: ${p.take(1200)}")
    assert(p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
        == 1, s"one pass over events: ${p.take(1200)}")
  }

  test("sql_tpch_q2 decorrelates the min-cost subquery; no nested loop") {
    val p = plan("sql_tpch_q2")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      s"correlated MIN must become an aggregate + hash join: " +
        p.take(1500))
  }

  test("sql_tpch_q9 joins the derived ps relation on the composite key") {
    val p = plan("sql_tpch_q9")
    assert(p.contains("BroadcastHashJoin"),
      s"nation/supplier dims must broadcast: ${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(1500))
  }

  test("sql_tpch_q11 evaluates the nation-total threshold once") {
    val p = plan("sql_tpch_q11")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"HAVING threshold must be a scalar subquery, not per-group: " +
        p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(1200))
    // the shared ps rollup must come from the memo-persisted
    // relation, not a fresh lineitem aggregate per consumer
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"ps must be the materialized rollup: ${p.take(1200)}")
  }

  test("sql_tpch_q16 plans NOT IN as an anti probe of the exclusion set") {
    val p = plan("sql_tpch_q16")
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("sql_tpch_q20 stacks semi joins + a decorrelated scalar, no loop") {
    val p = plan("sql_tpch_q20")
    assert(p.contains("LeftSemi"),
      s"both IN subqueries must be semi joins: ${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(1500))
  }

  test("llm_dedup_incremental admits via an anti join, never a re-scan loop") {
    val p = plan("llm_dedup_incremental")
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(1200))
  }

  test("join_fuzzy reads ONE cached name dictionary, no per-side rescan") {
    val p = plan("join_fuzzy")
    assert(p.contains("InMemoryTableScan"),
      s"name dictionary must come from the persisted relation: ${p.take(900)}")
    assert(p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
        <= 1,
      s"both join sides must share one part scan: ${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p.take(900))
  }

  test("join_point_in_time anchors on the entity key, never a nested loop") {
    val p = plan("join_point_in_time")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      s"interval containment must ride the user_id equi key: ${p.take(1200)}")
  }

  test("join_range_bin plans a hash equi-join on the bin, never a nested loop") {
    val p = plan("join_range_bin")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pure interval predicate fell back to a nested loop:\n${p.take(900)}")
    assert(p.contains("Join"), p.take(600))
  }

  test("sql_tpch_q5 broadcasts the dimension arms; lineitem scanned once") {
    val p = plan("sql_tpch_q5")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // one lineitem scan: count InMemoryFileIndex locations naming lineitem
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Location:") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"lineitem scanned $lineitemScans times")
  }

  test("sql_tpch_q17 decorrelates the scalar subquery: one grouped agg + join") {
    val p = plan("sql_tpch_q17")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlated scalar subquery re-executed per row:\n${p.take(900)}")
    // two lineitem scans: the fact pass and the per-part average pass
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Location:") && l.contains("lineitem"))
    assert(lineitemScans == 2, s"lineitem scanned $lineitemScans times (want 2)")
  }

  test("join_skew_aqe: AQE splits the hot partition (skew markers present)") {
    // runtime decision — must inspect the EXECUTED plan from the scoped run
    val (rows, plan, _) = graft.operators.Joins.skewAqeRun(spark, SF001)
    assert(rows.length == 3, s"expected 3 hot-key groups, got ${rows.length}")
    assert(plan.contains("skew=true") || plan.contains("skewed"),
      s"AQE did not mark the skew join:\n${plan.take(1200)}")
  }

  test("whole-stage codegen covers the flagship aggregate") {
    // AQE finalizes the physical plan only at execution; run the query,
    // then check the executed plan for fused codegen stages.
    val df = SparkEntry.queries("agg_hash_group")(spark, SF001)
    df.collect() // executes THIS queryExecution so AQE finalizes it
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" node prefixes mark whole-stage-codegen'd stages
    assert(p.contains("*("), p.take(800))
  }

  test("scan_jdbc reads through a 4-partition parallel JDBC scan") {
    // The whole point of the partitioned-read options is N concurrent
    // range queries instead of one connection; pin the partition count
    // at the scan RDD (the plan string does not carry it).
    val df = SparkEntry.queries("scan_jdbc")(spark, SF001)
    val scans = df.queryExecution.sparkPlan.collect {
      case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
    }
    assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString.take(800))
    assert(scans.head.inputRDD.getNumPartitions == 4,
      s"JDBC scan has ${scans.head.inputRDD.getNumPartitions} partitions")
  }

  test("join_lateral decorrelates to WindowGroupLimit, never a nested loop") {
    // The lateral ORDER BY+LIMIT subquery must become the partitioned
    // top-k (WindowGroupLimit partial+final + row_number) — a per-row
    // re-execution (nested loop / cartesian) would be quadratic at scale.
    val p = plan("join_lateral")
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin")
        && !p.contains("CartesianProduct"), p.take(1500))
  }

  test("join_hint_shj plans a ShuffledHashJoin — not broadcast, not SMJ") {
    // The row's point is the strategy hint overriding size-based
    // selection: at sf0.001 customer is broadcast-sized, so WITHOUT the
    // hint this would plan BHJ — seeing SHJ proves the hint won. SMJ
    // would mean the hint was dropped entirely (the 100 TB regression:
    // an extra sort pass over both shuffled sides).
    val p = plan("join_hint_shj")
    assert(p.contains("ShuffledHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      p.take(1500))
  }

  test("join_null_aware_anti: poisoned branch plans the NULL-AWARE anti") {
    // BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as a
    // trailing ", true" after "LeftAnti, BuildRight" — the poisoned
    // branch (nullable inner) must carry it; a plain LeftAnti there
    // would return rows where the standard says empty.
    val df = SparkEntry.queries("join_null_aware_anti")(spark, SF001)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("LeftAnti"), s.take(1500))
    assert(s.linesIterator.exists(l =>
      l.contains("LeftAnti") && l.replaceAll("\\s+$", "").endsWith("true")),
      s"no null-aware LeftAnti line:\n${s.take(1500)}")
  }

  test("sql_named_window: three functions fuse into ONE Window + shuffle") {
    // The row's Scaladoc claims the shared name buys one Window operator
    // over one partitioned sort — pin it: rank (w), count (w, default
    // RANGE frame) and the running sum (w2, explicit ROWS frame) share
    // (partition, order), so Spark fuses them into a single Window node
    // behind a single hash exchange. Drift to 2+ Windows would mean an
    // extra per-function pass at scale.
    val p = plan("sql_named_window")
    val windows = p.linesIterator.count(_.contains("Window ("))
    val exchanges = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(windows == 1, s"expected 1 fused Window node, got $windows:\n${p.take(1200)}")
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges")
  }

  test("sql_hint_broadcast: the comment hint reaches the planner") {
    val p = plan("sql_hint_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("sql_parameterized binds fold to literals pushed into the scan") {
    // The named-marker bindings must reach PushedFilters as plain
    // literals — parameterization cannot cost pushdown.
    val p = plan("sql_parameterized")
    assert(p.contains("GreaterThan(o_totalprice,150000.0)")
        && p.contains("EqualTo(o_orderstatus,O)"),
      p.linesIterator.filter(_.contains("PushedFilters"))
        .mkString("\n"))
  }

  test("profile_observe's pipeline is ONE scan: CollectMetrics rides the pass") {
    // The registered row returns the metrics as a driver-built row, so
    // pin the plan of the PIPELINE it runs internally: observe + the
    // downstream filter/count must share a single lineitem scan — the
    // zero-extra-I/O property that makes observe the right tripwire at
    // 100 TB (a second scan would double the job's read).
    import org.apache.spark.sql.functions._
    val obs = org.apache.spark.sql.Observation()
    val observed = graft.sources.Tables.lineitem(spark, SF001).observe(obs,
      count(lit(1)).as("n_rows"),
      count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
      graft.functions.Det.dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("l_returnflag") === "R")
    val p = observed.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("CollectMetrics"), p.take(1200))
    assert(p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
        == 1,
      s"observe pipeline must not rescan lineitem: ${p.take(1200)}")
  }

  test("sql_cluster_by: one keyed exchange + an in-partition (non-global) sort") {
    // The row's Scaladoc claims CLUSTER BY = DISTRIBUTE BY + SORT BY: one
    // hash repartition on the key and a sort that is local to each
    // partition (global=false — the second Sort argument). A global sort
    // here would be a silent extra range-exchange pass at 100 TB.
    val p = plan("sql_cluster_by")
    val exchanges = p.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges")
    assert(p.contains("REPARTITION_BY_COL"), p.take(1200))
    val sortArgs = p.linesIterator.toSeq
      .dropWhile(!_.startsWith("(5) Sort")).drop(2).headOption.getOrElse("")
    assert(sortArgs.contains("ASC NULLS FIRST], false"),
      s"CLUSTER BY's sort must be non-global: $sortArgs\n${p.take(800)}")
  }

  test("sql_hint_merge: the hint forces SMJ where size-based choice is BHJ") {
    // At sf0.001 nation is broadcast-sized, so SortMergeJoin in the plan
    // proves the MERGE hint overrode the planner's size-based selection
    // (the same falsification shape as join_hint_shj).
    val p = plan("sql_hint_merge")
    assert(p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("sql_hint_rebalance: the hint plans an AQE rebalance shuffle") {
    // REBALANCE resolves to a shuffle whose origin marks it as
    // runtime-optimizable (AQE coalesces/splits output partitions from
    // the map statistics). Pin the origin marker; without it the hint
    // silently degraded to a plain repartition.
    val p = plan("sql_hint_rebalance")
    assert(p.contains("REBALANCE_PARTITIONS_BY_COL"), p.take(1500))
  }

  test("llm_semdedup's argmax is an aggregate — no Window node ever") {
    // Round-17 continuation: the rank-1 window shipped all 16 centroid
    // rows per vector (embedding + centroid vector riding the
    // exchange); the max(struct) aggregate collapses to one row per
    // vector map-side. A Window reappearing here is the regression.
    val p = plan("llm_semdedup")
    assert(!p.contains(") Window"), p.take(1500))
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      p.take(1500))
  }

  test("llm_dup_span groups on the span hash, one aggregate tree") {
    // Round-17 continuation: the text-keyed groupBy shipped span text
    // through both of countDistinct's Expand passes (9.5 MB of bench
    // shuffle for one row). The shuffle key must stay xxhash64.
    val p = plan("llm_dup_span")
    assert(p.contains("xxhash64"), p.take(1500))
    // exactly one exchange shape: hashpartitioning on the hash column —
    // no join back (the exemplar rides the aggregate), no text key
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p.take(1500))
  }
}
