package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.graft.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Joins, LlmText}

/** A query's own confs live on a [[Sessions.scoped]] clone: the caller's
  * session never holds them, the clone keys no memo, and a build scoped
  * wider than its session still hands consumers a cache at the session
  * width. */
class ScopedConfsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private val scopedRows = Seq("join_bloom", "join_skew_aqe", "opt_cbo_reorder")

  private def runScoped(): Unit = {
    Joins.warmRuntimeFilter(spark, SF001)
    scopedRows.foreach(n => SparkEntry.queries(n)(spark, SF001).collect())
  }

  test("the session never holds a scoped row's confs while it plans") {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions",
      "spark.sql.cbo.enabled",
      "spark.sql.cbo.joinReorder.enabled")
    def values(): Map[String, Option[String]] =
      keys.map(k => k -> spark.conf.getOption(k)).toMap
    val before = values()
    // runs whenever THIS session optimizes a plan (clones do not inherit
    // extraOptimizations, so it sees only the shared session's planning)
    val seen = new ConcurrentLinkedQueue[Map[String, Option[String]]]
    val probe = new Rule[LogicalPlan] {
      def apply(p: LogicalPlan): LogicalPlan = { seen.add(values()); p }
    }
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ probe
    try scopedRows.foreach(n => SparkEntry.queries(n)(spark, SF001).collect())
    finally spark.experimental.extraOptimizations = prev
    assert(!seen.isEmpty, "the probe never ran: the witness shows nothing")
    val changed = seen.asScala.flatMap(_.filter { case (k, v) =>
      before(k) != v }).toSet
    assert(changed.isEmpty,
      s"the shared session planned with a scoped value: $changed")
  }

  test("running the scoped rows again registers no listener") {
    runScoped()
    val sc = spark.sparkContext
    val listeners = ListenerBus.listenerSet(sc)
    runScoped()
    assert(ListenerBus.listenerSet(sc).asScala.forall(listeners.contains),
      "a scoped run left a session hook behind (a memo keyed by a clone)")
  }

  test("the ngram build runs at its scoped width; consumers read its cache") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val width = LlmText.substrateShuffleWidth(s, SF1)
    assert(width > 4, s"sf0.1 no longer scopes the build wider ($width)")
    val ref = spark.newSession()
    ref.conf.set("spark.sql.shuffle.partitions", width.toString)
    val pairs = LlmText.ngramPairs(s, SF1)
    val refPairs = LlmText.ngramPairs(ref, SF1)
    try {
      val plan = SparkEntry.queries("llm_dedup_ngram")(s, SF1)
        .queryExecution.executedPlan
      val caches = collect(plan) { case m: InMemoryTableScanExec => m }
      assert(caches.nonEmpty, s"no cache read:\n$plan")
      val docScans = collect(plan) {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("documents")) => f
      }
      assert(docScans.isEmpty, s"the consumer re-read documents:\n$plan")
      val exchanges = caches.flatMap(m =>
        collect(m.relation.cachedPlan) { case e: ShuffleExchangeExec => e })
      val build = exchanges.filter(_.shuffleOrigin == ENSURE_REQUIREMENTS)
      assert(build.nonEmpty && build.forall(_.numPartitions == width),
        s"build shuffles ran ${build.map(_.numPartitions)} reducers, " +
          s"want $width")
      assert(exchanges.filter(_.shuffleOrigin == REPARTITION_BY_NUM)
        .map(_.numPartitions) == Seq(4),
        "the cached pairs were not repartitioned to the session width")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(pairs) == rows(refPairs))
    } finally {
      pairs.unpersist()
      refPairs.unpersist()
    }
  }
}
