package graft
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev utility: time individual registered queries in isolation.
  * `runMain graft.TimeQ <sfDir> <name1,name2,...> [reps]` — builds the
  * same session shape as Bench, runs each named query `reps` times
  * (default 3) and prints per-rep wall seconds to stderr. Used to tune
  * the fixed lifecycle cost of the source demos (VERDICT r9 #1) without
  * paying a full 186-query bench per experiment.
  *
  * Round 17 (VERDICT r16 #2 — the memory/state axis): wall-time slopes
  * cannot see a memory cliff until it OOMs, and an operator linear in
  * time but super-linear in RETAINED STATE (unbounded streaming join
  * buffers, skew-collected maps) is precisely what a 100 TB grading
  * must catch. Each rep therefore also reports, on a `[timeqm]` line
  * the probe harness parses:
  *  - `peak`   — max per-task peakExecutionMemory (MB) across the rep's
  *    tasks: the execution-memory high-water mark of the largest
  *    hash/sort/join buffer any one task held. Per-TASK peak is the
  *    slope-relevant figure: partitions are fixed at 32, so data ×32
  *    with a flat per-task peak means the operator streams; a per-task
  *    peak growing ∝ input is a collect-to-memory shape.
  *  - `spill`  — Σ(memory+disk)BytesSpilled (MB) across tasks: >0 means
  *    execution memory was exceeded and the operator hit the spill
  *    path; growth here predicts the shuffle-spill wall at scale.
  *  - `srows`/`smem` — for streaming rows, the max across the rep's
  *    StreamingQueryProgress events of Σ stateOperators.numRowsTotal /
  *    Σ memoryUsedBytes (MB): the retained-state high-water mark. The
  *    stream-stream join's classic failure mode (state growth when the
  *    watermark lags or the interval widens) lives HERE, invisible to
  *    wall-time. Captured via onOtherEvent on the shared context bus,
  *    so progress events from per-query SESSION CLONES (the tws rows
  *    pin RocksDB on clones) are seen too — a session-scoped
  *    spark.streams listener would miss them.
  *
  * Listener delivery is async; each rep snapshot waits a short drain
  * (outside the timed window). Metrics reset per rep, so `[timeqm]`
  * arrays align with the `[timeq]` rep times. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    // Scale-witness marker (ADVICE r17 #2): amplified inputs push rows
    // with oracle-domain guards (llm_semdedup's n <= 8192) onto their
    // production scale paths ON PURPOSE here — no oracle runs in a
    // TimeQ probe, so the guards stand down instead of failing the rep.
    System.setProperty("graft.scale.probe", "1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_SHUFFLE: override the shuffle partition count without
    // changing task parallelism — the knob for measuring the SURVEY §0
    // sizing rule (shuffle partitions scale with data, so per-partition
    // build volume — and therefore spill — stays flat). The driver
    // contract itself stays at partitions = cpus.
    val spark = Sessions.local(cpus)
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    spark.sparkContext.setLogLevel("WARN")

    val peakMem = new AtomicLong // max per-task peakExecutionMemory
    val spill = new AtomicLong // Σ (memory+disk) spilled bytes
    val shufWrite = new AtomicLong // Σ shuffle bytes written
    val stateRows = new AtomicLong // max Σ stateOperators.numRowsTotal
    val stateMem = new AtomicLong // max Σ stateOperators.memoryUsedBytes
    def maxInto(a: AtomicLong, v: Long): Unit = {
      var cur = a.get()
      while (v > cur && !a.compareAndSet(cur, v)) cur = a.get()
    }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          maxInto(peakMem, m.peakExecutionMemory)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        }
      }
      override def onOtherEvent(event: SparkListenerEvent): Unit =
        event match {
          case e: StreamingQueryListener.QueryProgressEvent =>
            val ops = e.progress.stateOperators
            if (ops != null && ops.nonEmpty) {
              maxInto(stateRows, ops.map(_.numRowsTotal).sum)
              maxInto(stateMem, ops.map(_.memoryUsedBytes).sum)
            }
          case _ =>
        }
    })

    SparkEntry.entry(spark).count() // warm session/codegen outside timings
    graft.operators.LlmMultimodal.warmMediaCodecs() // match Bench's warmup
    def mb(v: Long): String = f"${v / 1048576.0}%.1f"
    names.foreach { name =>
      val samples = (1 to reps).map { _ =>
        peakMem.set(0); spill.set(0); shufWrite.set(0)
        stateRows.set(0); stateMem.set(0)
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // drain async listener delivery (untimed)
        (sec, peakMem.get, spill.get, stateRows.get, stateMem.get,
          shufWrite.get)
      }
      System.err.println(f"[timeq] $name%-28s " +
        samples.map(s => f"${s._1}%.3f").mkString(" "))
      System.err.println(f"[timeqm] $name%-27s " +
        s"peak=${samples.map(s => mb(s._2)).mkString(",")} " +
        s"spill=${samples.map(s => mb(s._3)).mkString(",")} " +
        s"srows=${samples.map(_._4).mkString(",")} " +
        s"smem=${samples.map(s => mb(s._5)).mkString(",")} " +
        s"shuf=${samples.map(s => mb(s._6)).mkString(",")}")
    }
    spark.stop()
  }
}
