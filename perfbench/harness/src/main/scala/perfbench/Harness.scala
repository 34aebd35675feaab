package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop benchmark harness for `graft.SparkEntry`.
  *
  * `Harness key=value ...` builds one SparkSession of the shape
  * `graft.Bench` uses and runs a warm-up op. It then runs passes over a
  * list of registered queries until `seconds` have elapsed and
  * `min_passes` are done, one op at a time: an op is
  * `SparkEntry.queries(name)(spark, data)` plus a count.
  * It writes every raw measurement to `result` as JSON; `run.py` turns
  * them into metrics. The program is observed only through Spark's public
  * listener, plan and metrics APIs.
  *
  * Keys: data, out (if given, after the timed passes each query of the last
  * pass is run once more and its result written here for the oracle check),
  * result, cpus, seconds, trace (1 = per-layer spans and task metrics),
  * names (comma list, or `*` for the whole registry), hash_mod/hash_rem
  * (keep registry names whose CRC32 mod hash_mod is hash_rem), min_passes,
  * max_passes, warmup (name of the warm-up op).
  */
object Harness {
  private def now(): Long = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    def arg(k: String): String =
      conf.getOrElse(k, sys.error(s"missing argument $k=..."))
    val trace = conf.getOrElse("trace", "0") == "1"
    val cpus = arg("cpus")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", arg("warehouse"))
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    if (trace)
      builder.config("spark.sql.queryExecutionListeners",
        classOf[PlanListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = now()
    val rec = new Recorder(trace)
    spark.sparkContext.addSparkListener(rec)
    val data = arg("data")
    val out = new StringBuilder
    out ++= "{"
    def field(k: String, v: String): Unit = {
      if (out.length > 1) out ++= ","
      out ++= Json.str(k) ++= ":" ++= v
    }
    val registry = graft.SparkEntry.queries
    val warmName = arg("warmup")
    val warm = registry.getOrElse(warmName,
      sys.error(s"warm-up query $warmName is not in SparkEntry.queries"))
    warm(spark, data).count()
    field("session_ready_ms", sessionReady.toString)
    field("ready_ms", now().toString)
    val names = selectNames(conf, registry.keySet)
    field("names", names.map(Json.str).mkString("[", ",", "]"))
    val oracle = names.flatMap(n =>
      graft.SparkEntry.oracleSql.get(n).map(s => Json.str(n) + ":" +
        Json.str(s)))
    field("oracle_sql", oracle.mkString("{", ",", "}"))
    val ops = runPasses(spark, conf, names, trace, rec)
    val hwmKb = vmHwmKb()
    val stop0 = now()
    spark.stop() // drains the listener bus: every event is delivered
    field("stop_ms", (now() - stop0).toString)
    field("vmhwm_kb", hwmKb.toString)
    field("ops", ops.map(_.json(rec)).mkString("[", ",", "]"))
    field("stages", rec.stagesJson)
    field("batches", rec.batchesJson)
    field("plans", PlanListener.json)
    out ++= "}"
    Files.writeString(Paths.get(arg("result")), out.toString)
  }

  /** Names in sorted order: an explicit list, or the registry sampled by
    * a stable hash of the name (so adding rows does not reshuffle it). */
  private def selectNames(conf: Map[String, String],
      registry: collection.Set[String]): Seq[String] = {
    val spec = conf("names")
    if (spec == "*") {
      val mod = conf.getOrElse("hash_mod", "1").toLong
      val rem = conf.getOrElse("hash_rem", "0").toLong
      registry.toSeq.sorted.filter { n =>
        val c = new java.util.zip.CRC32
        c.update(n.getBytes("UTF-8"))
        c.getValue % mod == rem
      }
    } else {
      val names = spec.split(',').toSeq
      val missing = names.filterNot(registry.contains)
      if (missing.nonEmpty)
        sys.error(s"not in SparkEntry.queries: ${missing.mkString(", ")}")
      names
    }
  }

  private def runPasses(spark: SparkSession, conf: Map[String, String],
      names: Seq[String], trace: Boolean, rec: Recorder): Seq[Op] = {
    val data = conf("data")
    val seconds = conf("seconds").toDouble
    val minPasses = conf.getOrElse("min_passes", "2").toInt
    val maxPasses = conf.getOrElse("max_passes", "1000").toInt
    val t0 = System.nanoTime()
    val ops = Seq.newBuilder[Op]
    var last = Seq.empty[Op]
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass < maxPasses && (pass < minPasses || elapsed < seconds)) {
      pass += 1
      // In a traced run odd passes are traced and even ones plain, so one
      // run also yields the tracing overhead.
      val traced = trace && pass % 2 == 1
      last.foreach(_.df = null)
      last = names.zipWithIndex.map { case (name, i) =>
        runOp(spark, data, pass, i, name, traced, rec)
      }
      ops ++= last
    }
    conf.get("out").foreach(writeResults(last, _, conf("cpus").toInt))
    ops.result()
  }

  /** Writes the last pass's results for the oracle check, after the timed
    * passes and several at a time: each write runs its query again. */
  private def writeResults(last: Seq[Op], outDir: String,
      threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      last.filter(_.err == null).map { op =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val t = System.nanoTime()
            try op.df.write.mode("overwrite").parquet(s"$outDir/${op.name}")
            catch { case e: Throwable => op.err = s"result write: $e" }
            op.writeNs = System.nanoTime() - t
            op.df = null
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  private def runOp(s: SparkSession, data: String, pass: Int, idx: Int,
      name: String, traced: Boolean, rec: Recorder): Op = {
    val op = new Op(pass, idx, name, traced)
    val sc = s.sparkContext
    if (traced) sc.setJobGroup(s"perfbench-$pass-$idx", name)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    op.start = now()
    val t0 = System.nanoTime()
    try {
      op.df = graft.SparkEntry.queries(name)(s, data)
      val t1 = System.nanoTime()
      op.buildNs = t1 - t0
      if (traced) {
        val counted = op.df.groupBy().count()
        val qe = counted.queryExecution
        qe.analyzed
        val t2 = System.nanoTime()
        qe.optimizedPlan
        val t3 = System.nanoTime()
        qe.executedPlan
        val t4 = System.nanoTime()
        op.rows = counted.collect()(0).getLong(0)
        op.analyzeNs = t2 - t1
        op.optimizeNs = t3 - t2
        op.physicalNs = t4 - t3
        op.executeNs = System.nanoTime() - t4
      } else {
        op.rows = op.df.count()
        op.executeNs = System.nanoTime() - t1
      }
    } catch {
      case e: Throwable =>
        op.err = e.toString
        op.df = null
    }
    op.wallNs = System.nanoTime() - t0
    op.end = now()
    op.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    if (traced) sc.clearJobGroup()
    rec.opEnded(op)
    op
  }

  private def vmHwmKb(): Long = {
    val f = new File("/proc/self/status")
    if (!f.exists) -1L
    else Files.readAllLines(f.toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }
}

/** One op's measurements. Times are ns unless named `*Ms`/epoch ms. */
final class Op(val pass: Int, val idx: Int, val name: String,
    val traced: Boolean) {
  var df: DataFrame = _
  var start, end = 0L
  var buildNs, analyzeNs, optimizeNs, physicalNs, executeNs, wallNs = 0L
  var writeNs = 0L // untimed: the result written for the oracle
  var rows = -1L
  var compiles = 0L
  var err: String = _

  def json(rec: Recorder): String = {
    val t = rec.taskTotals(this)
    Seq(
      "pass" -> pass.toString, "idx" -> idx.toString,
      "name" -> Json.str(name), "traced" -> traced.toString,
      "start_ms" -> start.toString, "end_ms" -> end.toString,
      "build_ns" -> buildNs.toString, "analyze_ns" -> analyzeNs.toString,
      "optimize_ns" -> optimizeNs.toString,
      "physical_ns" -> physicalNs.toString,
      "execute_ns" -> executeNs.toString, "wall_ns" -> wallNs.toString,
      "write_ns" -> writeNs.toString,
      "rows" -> rows.toString, "compiles" -> compiles.toString,
      "err" -> (if (err == null) "null" else Json.str(err)),
      "tasks" -> t)
      .map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
  }
}

/** Collects scheduler, task and streaming-progress events. Task metrics
  * are attributed to the op whose wall interval holds the task's launch:
  * ops run one at a time, so the intervals never overlap. */
final class Recorder(trace: Boolean) extends SparkListener {
  import Recorder.Task
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]
  private val stages = new ConcurrentLinkedQueue[String]
  private val batches = new ConcurrentLinkedQueue[String]
  private val ops = new ConcurrentLinkedQueue[Op]

  /** Summed task fields, in this order, then the per-op maxima. */
  private val sumKeys = Seq("tasks", "retries", "run_ms", "cpu_ns", "gc_ms",
    "delay_ms", "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms",
    "spill_b", "input_b", "input_rows")
  private val maxKeys = Seq("peak_mem_b")

  def opEnded(op: Op): Unit = ops.add(op)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (trace) jobs.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(Json.obj(
      "stage" -> i.stageId.toString,
      "submit_ms" -> i.submissionTime.getOrElse(-1L).toString,
      "end_ms" -> i.completionTime.getOrElse(-1L).toString,
      "tasks" -> i.numTasks.toString,
      "shuffle_write_b" ->
        (if (m == null) "0" else m.shuffleWriteMetrics.bytesWritten.toString)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (trace) {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val dur = i.finishTime - i.launchTime
      val delay = math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      val rd = m.shuffleReadMetrics
      tasks.add(Task(i.launchTime, e.stageId, Array(
        1L, if (i.attemptNumber > 0 || !i.successful) 1L else 0L,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, delay,
        m.shuffleWriteMetrics.bytesWritten,
        rd.remoteBytesRead + rd.localBytesRead, rd.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.peakExecutionMemory)))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val g = p.progress
      val st = Option(g.stateOperators).getOrElse(Array.empty)
      val dur = g.durationMs.asScala.map { case (k, v) =>
        Json.str(k) + ":" + v }.mkString("{", ",", "}")
      batches.add(Json.obj(
        "run" -> Json.str(g.runId.toString),
        "batch" -> g.batchId.toString,
        "start_ms" ->
          java.time.Instant.parse(g.timestamp).toEpochMilli.toString,
        "input_rows" -> g.numInputRows.toString,
        "duration_ms" -> dur,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum.toString,
        "state_rows" -> st.map(_.numRowsTotal).sum.toString,
        "state_mem_b" -> st.map(_.memoryUsedBytes).sum.toString,
        "state_dropped" -> st.map(_.numRowsDroppedByWatermark).sum.toString))
    case _ =>
  }

  private lazy val sortedOps = ops.asScala.toArray.sortBy(_.start)

  private def opAt(t: Long): Op = {
    // last op that started at or before t, if t is inside its interval
    var lo = 0
    var hi = sortedOps.length - 1
    var hit: Op = null
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (sortedOps(mid).start <= t) { hit = sortedOps(mid); lo = mid + 1 }
      else hi = mid - 1
    }
    if (hit != null && t <= hit.end) hit else null
  }

  private lazy val byOp: Map[Op, (Array[Long], Long, Double, Long)] = {
    val groups = tasks.asScala.toSeq.groupBy(t => opAt(t.launch))
    groups.collect { case (op, ts) if op != null =>
      val sums = new Array[Long](sumKeys.length + maxKeys.length)
      ts.foreach { t =>
        sumKeys.indices.foreach(k => sums(k) += t.values(k))
        maxKeys.indices.foreach { k =>
          val j = sumKeys.length + k
          sums(j) = math.max(sums(j), t.values(j))
        }
      }
      val nJobs = jobs.asScala.count(j => opAt(j) eq op).toLong
      // skew of the op's stage with the most shuffle read
      val readIdx = sumKeys.indexOf("shuffle_read_b")
      val stageReads = ts.groupBy(_.stage).values
        .map(_.map(_.values(readIdx)).sorted)
      val top = if (stageReads.isEmpty) Seq(0L) else stageReads.maxBy(_.sum)
      val med = top(top.length / 2)
      val skew = if (med > 0) top.last.toDouble / med else 0.0
      op -> ((sums, nJobs, skew, top.sum))
    }
  }

  def taskTotals(op: Op): String = byOp.get(op) match {
    case None => "null"
    case Some((sums, nJobs, skew, topRead)) =>
      ((sumKeys ++ maxKeys).zip(sums).map { case (k, v) =>
        Json.str(k) + ":" + v } ++
        Seq(Json.str("jobs") + ":" + nJobs,
          Json.str("read_skew") + ":" + skew,
          Json.str("top_stage_read_b") + ":" + topRead))
        .mkString("{", ",", "}")
  }

  def stagesJson: String = stages.asScala.mkString("[", ",", "]")
  def batchesJson: String = batches.asScala.mkString("[", ",", "]")
}

object Recorder {
  private final case class Task(launch: Long, stage: Int, values: Array[Long])
}

/** Registered through `spark.sql.queryExecutionListeners` so that every
  * session, including the program's own clones and new sessions, reports.
  * For each finished action it records the rows out of self-joins: joins
  * whose two sides read a common input. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = {
    var candidates, kept = 0L
    def inputs(p: SparkPlan): Set[String] = kids(p) match {
      case Seq() => p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString).toSet
        case m: InMemoryTableScanExec =>
          Set(s"cache:${System.identityHashCode(m.relation.cacheBuilder)}")
        case _ => Set.empty
      }
      case ks => ks.flatMap(inputs).toSet
    }
    def rows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    def walk(p: SparkPlan, filterAbove: Option[FilterExec]): Unit = {
      p match {
        case j: BaseJoinExec
            if inputs(j.left).intersect(inputs(j.right)).nonEmpty =>
          candidates += rows(j)
          kept += filterAbove.map(rows).getOrElse(rows(j))
        case _ =>
      }
      val above = p match {
        case f: FilterExec => Some(f)
        case _: BaseJoinExec => None
        case _ => filterAbove
      }
      kids(p).foreach(walk(_, above))
    }
    walk(qe.executedPlan, None)
    if (candidates > 0)
      PlanListener.records.add(Json.obj(
        "end_ms" -> System.currentTimeMillis().toString,
        "candidates" -> candidates.toString, "kept" -> kept.toString))
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }
}

object PlanListener {
  private[perfbench] val records = new ConcurrentLinkedQueue[String]
  def json: String = records.asScala.mkString("[", ",", "]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
