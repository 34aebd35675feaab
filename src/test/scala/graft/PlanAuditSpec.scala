package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry-wide plan audit as a COMMIT GATE (VERDICT r15 item 2).
  *
  * Round 15's `tools/plan_audit.py` caught the one genuine scale trap
  * of its round (the lateral-TVF domain-clone full scan) but only ran
  * in the closing ritual; here the same checks — single-sourced in
  * [[PlanAudit]] — run inside `sbt test`, so a plan regression
  * (cartesian product, untriaged BNLJ, duplicate decorrelation scan,
  * lost column pruning, departitioned window) fails the build the
  * commit it appears.
  *
  * The negative controls below prove each check is FALSIFIABLE — a
  * synthetic plan exhibiting the smell must flag. Without them a
  * regex drift (Spark changing its formatted-explain rendering) could
  * silently blind a check while the sweep stays green; the controls
  * pin the rendered shapes the checks key on. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  test("all registry plans audit clean at sf0.001") {
    val (n, flagged) = PlanAudit.auditAll(spark, SF001)
    assert(n == SparkEntry.queries.size, s"swept $n of ${SparkEntry.queries.size}")
    assert(flagged.isEmpty,
      "plan smells need triage (fix the plan or allowlist WITH a " +
        s"bounding argument in PlanAudit):\n" +
        flagged.toSeq.sortBy(_._1).map { case (q, fs) =>
          s"  $q: ${fs.mkString("; ")}"
        }.mkString("\n"))
  }

  test("negative control: CartesianProduct flags") {
    val fs = PlanAudit.audit("ctl", "(4) CartesianProduct\n")
    assert(fs.exists(_.startsWith("CARTESIAN")), fs.toString)
  }

  test("negative control: BNLJ flags outside the allowlist, not inside") {
    val p = "(3) BroadcastNestedLoopJoin BuildRight, Inner\n"
    assert(PlanAudit.audit("ctl", p).exists(_.startsWith("BNLJ")))
    assert(PlanAudit.knownBnlj.contains("join_bnlj_theta"))
    assert(PlanAudit.audit("join_bnlj_theta", p).isEmpty,
      "allowlisted carrier must not flag")
  }

  test("negative control: a failed explain flags") {
    val fs = PlanAudit.audit("ctl", "failed: boom")
    assert(fs.exists(_.startsWith("FAILED-EXPLAIN")), fs.toString)
  }

  test("negative control: MANY-SCANS flags a 3x-scanned fixture file") {
    // formatted mode prints one Location line per scan node
    val line = "Location: InMemoryFileIndex [file:/x/lineitem.parquet]\n"
    assert(PlanAudit.audit("ctl", line * 3)
      .exists(_.startsWith("MANY-SCANS lineitemx3")))
    assert(PlanAudit.audit("ctl", line * 2).isEmpty,
      "two scans are within policy")
    assert(PlanAudit.audit("sql_tablesample", line * 3).isEmpty,
      "triaged (query, file) pair must not flag")
  }

  test("negative control: WIDE-SCAN flags a 10-column ReadSchema") {
    val cols = (1 to 10).map(i => s"c$i:int").mkString(",")
    val p = s"ReadSchema: struct<$cols>\n"
    assert(PlanAudit.audit("ctl", p).exists(_.startsWith("WIDE-SCAN")))
    assert(PlanAudit.audit("scan_parquet", p).isEmpty,
      "the deliberate full-scan row must not flag")
    val nine = (1 to 9).map(i => s"c$i:int").mkString(",")
    assert(PlanAudit.audit("ctl", s"ReadSchema: struct<$nine>\n").isEmpty)
  }

  test("negative control: GLOBAL-WINDOW flags an empty partition spec") {
    // Spark 4.1's renderer DROPS empty bracket groups, so a global
    // window renders with TWO groups — [exprs], [orderSpec] — never
    // the "], [], [" shape round 15's python check keyed on (that
    // check was blind on live plans; the live-rendering pin below
    // caught it). These synthetic shapes mirror real renderings.
    def w(args: String) =
      s"(5) Window\nInput [2]: [a#1L, b#2]\nArguments: $args\n"
    val global = w("[row_number() windowspecdefinition(b#2 ASC NULLS " +
      "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), " +
      "currentrow$())) AS r#3], [b#2 ASC NULLS FIRST]")
    val parted = w("[row_number() windowspecdefinition(a#1L, b#2 ASC " +
      "NULLS FIRST, specifiedwindowframe(RowFrame, " +
      "unboundedpreceding$(), currentrow$())) AS r#3], [a#1L], " +
      "[b#2 ASC NULLS FIRST]")
    // partitioned but unordered frame: also two groups, but the last
    // group is a partition spec (no sort markers) — scale-safe
    val partedUnordered = w("[sum(b#2) windowspecdefinition(a#1L, " +
      "specifiedwindowframe(RowFrame, unboundedpreceding$(), " +
      "unboundedfollowing$())) AS s#4], [a#1L]")
    val globalUnordered = w("[sum(b#2) windowspecdefinition(" +
      "specifiedwindowframe(RowFrame, unboundedpreceding$(), " +
      "unboundedfollowing$())) AS s#4]")
    assert(PlanAudit.audit("ctl", global)
      .exists(_.startsWith("GLOBAL-WINDOW")), "global+ordered must flag")
    assert(PlanAudit.audit("ctl", globalUnordered)
      .exists(_.startsWith("GLOBAL-WINDOW")), "global+unordered must flag")
    assert(PlanAudit.audit("ctl", parted).isEmpty,
      "partitioned window must not flag")
    assert(PlanAudit.audit("ctl", partedUnordered).isEmpty,
      "partitioned-unordered window must not flag")
    // WindowGroupLimit's two-group-plus-extras rendering is not a
    // Window node and must not trip the check
    val wgl = "(4) WindowGroupLimit\nInput [2]: [a#1L, b#2]\n" +
      "Arguments: [a#1L], [b#2 ASC NULLS FIRST], row_number(), 3, Final\n"
    assert(PlanAudit.audit("ctl", wgl).isEmpty, "WindowGroupLimit exempt")
  }

  test("the GLOBAL-WINDOW regex matches Spark's live rendering") {
    // guard against formatted-explain drift: build a real global window,
    // explain it, and require the check to fire on the LIVE string
    import org.apache.spark.sql.execution.ExplainMode
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = spark.range(10).toDF("v")
      .withColumn("r", row_number().over(Window.orderBy(col("v"))))
    val plan = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(PlanAudit.audit("ctl", plan)
      .exists(_.startsWith("GLOBAL-WINDOW")),
      s"live global-window rendering no longer matches the check:\n$plan")
    // and the partitioned-unordered live rendering must NOT flag
    val ok = spark.range(10).toDF("v")
      .withColumn("g", col("v") % 3)
      .withColumn("s", sum("v").over(Window.partitionBy(col("g"))))
    val okPlan = ok.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(okPlan.contains("Window"), "control lost its Window node")
    assert(PlanAudit.audit("ctl", okPlan).isEmpty,
      s"live partitioned-unordered window falsely flagged:\n$okPlan")
  }

  test("parseDump round-trips the Explain dump format") {
    val dump = "\n========== q_a ==========\nplan a line\n" +
      "========== q_b ==========\n(1) CartesianProduct\n"
    val m = PlanAudit.parseDump(dump)
    assert(m.keySet == Set("q_a", "q_b"))
    assert(m("q_a").contains("plan a line"))
    assert(PlanAudit.audit("q_b", m("q_b")).exists(_.startsWith("CARTESIAN")))
  }
}
