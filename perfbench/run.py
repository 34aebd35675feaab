#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
program from source (sbt, in perfbench/harness). Each run then:

  1. generates the workload's tables from the seed (perfbench/gen.py);
  2. starts a fresh JVM running perfbench.Harness: one SparkSession of the
     shape graft.Bench uses (local[nproc], shuffle partitions = nproc, UTC,
     UI off), a warm-up op, then closed-loop passes over the workload's
     registered queries until --seconds have passed and the workload's
     passes are done, then runs each query once more to write its result;
  3. checks the ops against `SparkEntry.oracleSql` in DuckDB (oracle.py);
  4. prints one JSON line: the end-to-end metrics (--trace 0) or the
     per-layer metrics (--trace 1).

Everything a run writes goes to a run-private directory under
perfbench/runs/ (warehouse, streaming checkpoints, and one java.io.tmpdir
and Spark local dir per JVM), removed at exit, and one record per run in
perfbench/results/. See perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
STAMP = os.path.join(HARNESS, "target", "perfbench.stamp")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# names: the ops of one pass, in order ("*": the registry names whose CRC32
# is hash_rem mod hash_mod); shape: gen.generate arguments; stressed: the
# table whose rows give rows_per_s; passes: the passes every run makes;
# measured: how many of the last passes the timed metrics use. The passes
# before them warm the JIT: on registry a pass keeps getting faster until
# about the tenth, and how soon it settles varies from run to run.
WORKLOADS = {
    "registry": dict(names="*", hash_mod=29, hash_rem=12, shape=dict(sf=0.01),
                     stressed="lineitem", passes=14, measured=5),
    "stream_join": dict(names="source_stream_join,source_stream_join_outer",
                        shape=dict(sf=0.1, events_x=0.1, user_zipf=1.0),
                        stressed="events", passes=2, measured=1),
}
WARMUP = "agg_hash_group"
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")  # as the program's build.sbt
STREAM_PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py")):
        raise BenchError("no program sources at src/main/scala or no "
                         "tools/oracle_check.py: run from the root of a full "
                         "checkout")
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and \
            open(STAMP).read() == digest:
        return
    log("building harness and program (sbt compile)")
    t0 = time.time()
    logf = os.path.join(HARNESS, "target", "build.log")
    os.makedirs(os.path.dirname(logf), exist_ok=True)
    rc = Child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
               HARNESS, logf).wait(840)
    if rc != 0:
        raise BenchError(f"build failed (exit {rc}):\n{tail(logf)}")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


# ------------------------------------------------------------- children

_children = []
DEADLINE = time.time() + 850  # reset after the build: runs end in 180 s


def remaining():
    return max(1.0, DEADLINE - time.time())


class Child:
    """A process in its own group, output to `log`; killed with its group
    if it outlives its wait or the run fails."""

    def __init__(self, cmd, cwd, log, env=None):
        self.log = log
        self.out = open(log, "w")
        self.started_ms = time.time() * 1000.0
        self.p = subprocess.Popen(cmd, cwd=cwd, stdout=self.out,
                                  stderr=subprocess.STDOUT, env=env,
                                  start_new_session=True)
        _children.append(self)

    def wait(self, timeout):
        try:
            return self.p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{self.log}: timed out after {timeout:.0f} s")
        finally:
            self.stop()

    def stop(self):
        if self.p.poll() is None:
            try:
                os.killpg(self.p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.p.wait()
        self.out.close()
        if self in _children:
            _children.remove(self)


def stop_all():
    for c in list(_children):
        c.stop()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


class Jvm(Child):
    """One perfbench.Harness JVM; `result()` waits for its JSON. Each JVM
    has its own java.io.tmpdir, so no JVM finds staging another one built."""

    def __init__(self, run_dir, tag, args):
        self.result_path = os.path.join(run_dir, f"{tag}.json")
        tmp = os.path.join(run_dir, f"tmp-{tag}")
        os.makedirs(tmp, exist_ok=True)
        cp = os.pathsep.join([CLASSES, os.path.join(
            os.environ["SPARK_HOME"], "jars", "*")])
        opens = [x for p in JDK_OPENS
                 for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                "-Djava.awt.headless=true"] + opens +
               ["-cp", cp, "perfbench.Harness", f"result={self.result_path}",
                f"warehouse={os.path.join(run_dir, 'warehouse')}",
                f"warmup={WARMUP}"] + [f"{k}={v}" for k, v in args.items()])
        env = dict(os.environ)
        env.pop("SPARK_LOCAL_DIRS", None)  # would move Spark's scratch
        env.pop("JAVA_TOOL_OPTIONS", None)
        super().__init__(cmd, run_dir, os.path.join(run_dir, f"{tag}.log"),
                         env)

    def result(self):
        rc = self.wait(remaining())
        if rc != 0 or not os.path.exists(self.result_path):
            raise BenchError(f"harness failed (exit {rc}):\n{tail(self.log)}")
        with open(self.result_path) as f:
            r = json.load(f)
        r["setup_s"] = (r["ready_ms"] - self.started_ms) / 1000.0
        r["session_s"] = (r["session_ready_ms"] - self.started_ms) / 1000.0
        return r


# -------------------------------------------------------------- metrics

def host_sample():
    """(steal jiffies, total jiffies, load1) from /proc."""
    try:
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return cpu[7] if len(cpu) > 7 else 0, sum(cpu), load1
    except OSError:
        return 0, 0, -1.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-len(s) * q // 100) - 1))]


def passes_of(ops):
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append(o)
    return by


def window(w, trace=0):
    """The pass numbers the timed metrics use: the workload's last
    `measured` passes, however many more the run had time for. A traced run
    makes one pass more and widens the window by one, so that the window
    holds traced (odd) and plain (even) passes."""
    last = w["passes"] + trace
    return range(last - w["measured"] - trace + 1, last + 1)


def end_to_end(res, stressed_rows, cpus, w):
    """Timed metrics of the measured passes; shuffle_mb of the first."""
    ops = res["ops"]
    by = passes_of(ops)
    walls = {p: sum(o["wall_ns"] for o in os_) / 1e9 for p, os_ in by.items()}
    later = [walls[p] for p in window(w)]
    later_ops = [o["wall_ns"] / 1e6 for o in ops if o["pass"] in window(w)]
    first = by[1]
    w1 = [(o["start_ms"], o["end_ms"]) for o in first]
    shuffle_b = sum(s["shuffle_write_b"] for s in res["stages"]
                    if any(a <= s["submit_ms"] <= b for a, b in w1))
    pass_s = median(later)
    m = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_ms_p50": (median(later_ops), "ms"),
        "rows_per_s": (stressed_rows / pass_s if pass_s else 0.0, "1/s"),
        "shuffle_mb": (shuffle_b / 2 ** 20, "MB"),
    }
    counts = {"passes": len(walls), "op_samples": len(later_ops),
              "later_passes": len(later), "cpus": cpus}
    return m, counts


def data_batches(batches):
    """Batches carrying at least 1 % of their query's largest batch."""
    top = {}
    for b in batches:
        top[b["run"]] = max(top.get(b["run"], 0), b["input_rows"])
    return [b for b in batches if top[b["run"]] > 0 and
            b["input_rows"] >= 0.01 * top[b["run"]]]


def per_layer(res, stats, cpus, local1_first_s, w):
    """Per-pass values are medians over the traced passes of the measured
    window; the plain passes of the window give the tracing overhead."""
    ops = res["ops"]
    by = passes_of(ops)
    traced = [p for p in window(w, 1) if by[p][0]["traced"]]
    plain = [p for p in window(w, 1) if not by[p][0]["traced"]]
    wall = {p: sum(o["wall_ns"] for o in by[p]) / 1e6 for p in by}

    def per_pass(f):
        return median([f(by[p]) for p in traced])

    def tsum(key):
        return lambda os_: sum((o["tasks"] or {}).get(key, 0) for o in os_)

    def nsum(key):
        return lambda os_: sum(o[key] for o in os_) / 1e6

    def in_ops(t, os_):
        return any(o["start_ms"] <= t <= o["end_ms"] for o in os_)

    def pass_batches(os_):
        return [b for b in res["batches"] if in_ops(b["start_ms"], os_)]

    def top_skew(os_):
        t = [o["tasks"] for o in os_ if o["tasks"]]
        return max(t, key=lambda x: x["top_stage_read_b"])["read_skew"] \
            if t else 0.0

    later_traced = [o for p in traced for o in by[p]]
    batches = [b for b in res["batches"] if in_ops(b["start_ms"], later_traced)]
    data = data_batches(res["batches"])
    data_ids = {(b["run"], b["batch"]) for b in data}
    later_data = [b for b in batches if (b["run"], b["batch"]) in data_ids]
    floor = [b["duration_ms"].get("triggerExecution", 0) for b in batches
             if (b["run"], b["batch"]) not in data_ids]
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in data]
    def lifecycle(os_):
        streamed = [o for o in os_ if any(
            in_ops(b["start_ms"], [o]) for b in res["batches"])]
        return sum(o["wall_ns"] for o in streamed) / 1e6 - sum(
            b["duration_ms"].get("triggerExecution", 0)
            for b in pass_batches(streamed))

    mb = 2 ** 20
    # substrates are built once per session, so count the whole run
    cand = sum(r["candidates"] for r in res["plans"])
    kept = sum(r["kept"] for r in res["plans"])
    # first touch: each name's first-pass wall minus its median later wall
    first_touch = sum(
        o["wall_ns"] / 1e6 - median([x["wall_ns"] / 1e6 for p in traced
                                     for x in by[p] if x["name"] == o["name"]])
        for o in by[1]) if traced else 0.0
    op_wall = per_pass(nsum("wall_ns"))
    spans = per_pass(lambda os_: sum(
        o[k] for o in os_ for k in ("build_ns", "analyze_ns", "optimize_ns",
                                    "physical_ns", "execute_ns")) / 1e6)
    t_pass = median([wall[p] for p in traced])
    u_pass = median([wall[p] for p in plain])
    m = {
        "entry.build_ms": per_pass(nsum("build_ns")),
        "plan.analyze_ms": per_pass(nsum("analyze_ns")),
        "plan.optimize_ms": per_pass(nsum("optimize_ns")),
        "plan.physical_ms": per_pass(nsum("physical_ns")),
        "exec.execute_ms": per_pass(nsum("execute_ns")),
        # generated classes are cached, so compiles happen in the first pass
        "codegen.compiles": sum(o["compiles"] for o in by[1]),
        "sched.jobs": per_pass(tsum("jobs")),
        "sched.tasks": per_pass(tsum("tasks")),
        "sched.delay_ms": per_pass(tsum("delay_ms")),
        "sched.task_retries": per_pass(tsum("retries")),
        "exec.run_ms": per_pass(tsum("run_ms")),
        "exec.cpu_ms": per_pass(tsum("cpu_ns")) / 1e6,
        "exec.gc_ms": per_pass(tsum("gc_ms")),
        "exec.busy_ratio": median([tsum("run_ms")(by[p]) / (cpus * wall[p])
                                   for p in traced]),
        "shuffle.write_mb": per_pass(tsum("shuffle_write_b")) / mb,
        "shuffle.read_mb": per_pass(tsum("shuffle_read_b")) / mb,
        "shuffle.fetch_wait_ms": per_pass(tsum("fetch_wait_ms")),
        "shuffle.skew": per_pass(top_skew),
        "spill_mb": per_pass(tsum("spill_b")) / mb,
        "mem.peak_rss_mb": res["vmhwm_kb"] / 1024.0,
        "task.peak_mem_mb": max([(o["tasks"] or {}).get("peak_mem_b", 0)
                                 for o in later_traced] or [0]) / mb,
        "scan.input_mb": per_pass(tsum("input_b")) / mb,
        "scan.rows": per_pass(tsum("input_rows")),
        "stream.batches": per_pass(lambda os_: len(pass_batches(os_))),
        "stream.data_batches": len(later_data) / max(1, len(traced)),
        "stream.batch_ms_p50": median(trig),
        "stream.batch_ms_p90": pct(trig, 90),
        "stream.floor_batch_ms": median(floor),
        "stream.lifecycle_ms": per_pass(lifecycle),
        "state.commit_ms": median([b["state_commit_ms"] for b in later_data]),
        "state.rows_hwm": max([b["state_rows"] for b in batches] or [0]),
        "state.mem_mb_hwm": max([b["state_mem_b"] for b in batches] or [0])
        / mb,
        "state.dropped_late": per_pass(lambda os_: sum(
            b["state_dropped"] for b in pass_batches(os_))),
        "llm.candidates": cand,
        "llm.pairs_kept": kept,
        "llm.pair_yield": kept / cand if cand else 0.0,
        "input.max_df": stats.get("max_shingle_df", 0),
        "input.key_skew": max(stats.get("key_skew", {}).values() or [0]),
        "substrate.first_touch_ms": first_touch,
        "trace.unattributed_ms": op_wall - spans,
        "trace.overhead_pct": 100.0 * (t_pass - u_pass) / u_pass
        if u_pass else 0.0,
        "cold.first_pass_s": wall[1] / 1000.0,
        "scale.local1_first_pass_s": local1_first_s,
        "scale.speedup": local1_first_s / (wall[1] / 1000.0)
        if local1_first_s else 0.0,
    }
    for ph in STREAM_PHASES:
        m[f"stream.{ph}_ms"] = median([b["duration_ms"].get(ph, 0)
                                       for b in later_data])
    return m, {"traced_passes": len(traced), "plain_passes": len(plain),
               "data_batches": len(data), "later_data_batches":
                   len(later_data)}


def unit_of(name):
    tail = name.rsplit(".", 1)[-1]
    if "_ms" in tail:
        return "ms"
    if "mb" in tail.split("_"):
        return "MB"
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_pct"):
        return "%"
    if tail.endswith(("ratio", "yield", "skew", "speedup")):
        return "ratio"
    return "count"


def spans_of(res):
    """Spans workload -> pass -> op -> {build, analyze, optimize, physical,
    execute}, and micro-batch spans under the build that ran them."""
    spans = []

    def span(sid, parent, layer, name, start, end, **extra):
        spans.append(dict(id=sid, parent=parent, layer=layer, name=name,
                          start_ms=start, end_ms=end, **extra))

    ops = res["ops"]
    span("w", None, "workload", "workload", ops[0]["start_ms"],
         ops[-1]["end_ms"])
    for p, os_ in sorted(passes_of(ops).items()):
        pid = f"p{p}"
        span(pid, "w", "pass", f"pass {p}", os_[0]["start_ms"],
             os_[-1]["end_ms"])
        for o in os_:
            oid = f"{pid}.o{o['idx']}"
            span(oid, pid, "op", o["name"], o["start_ms"], o["end_ms"])
            t = float(o["start_ms"])
            for k in ("build", "analyze", "optimize", "physical", "execute"):
                d = o[f"{k}_ns"] / 1e6
                if d:
                    span(f"{oid}.{k}", oid, k, k, t, t + d)
                t += d
            for b in res["batches"]:
                if o["start_ms"] <= b["start_ms"] <= o["end_ms"]:
                    span(f"{oid}.b{b['run'][:8]}.{b['batch']}",
                         f"{oid}.build", "micro-batch", "micro-batch",
                         b["start_ms"], b["start_ms"] +
                         b["duration_ms"].get("triggerExecution", 0),
                         phases_ms=b["duration_ms"])
    return spans


def self_times(spans):
    """Per layer: Σ span duration minus the part its child spans cover.
    The op layer's self time is the time no named layer accounts for."""
    covered = {}
    for s in spans:
        if s["parent"]:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + \
                s["end_ms"] - s["start_ms"]
    out = {}
    for s in spans:
        own = s["end_ms"] - s["start_ms"] - covered.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    build()
    global DEADLINE
    DEADLINE = time.time() + 170
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        record = run(a, w, cpus, run_dir)
    finally:
        stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)
    res_dir = os.path.join(HERE, "results")
    os.makedirs(res_dir, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}"
    with open(os.path.join(res_dir, name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    line = {"correct": record["check"]["failed"] == 0,
            "attempted": record["check"]["attempted"],
            "failed": record["check"]["failed"],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in record["metrics"].items()}}
    print(json.dumps(line))


def run(a, w, cpus, run_dir):
    host0 = host_sample()
    data = os.path.join(run_dir, "data")
    t0 = time.time()
    stats = gen.generate(data, a.seed, **w["shape"])
    t_gen = time.time()
    out = os.path.join(run_dir, "out")
    args = {"data": data, "out": out, "cpus": cpus,
            "seconds": a.seconds, "trace": a.trace, "names": w["names"],
            "hash_mod": w.get("hash_mod", 1), "hash_rem": w.get("hash_rem", 0),
            "min_passes": w["passes"] + a.trace}
    res = Jvm(run_dir, "main", args).result()
    local1 = 0.0
    if a.trace and a.workload == "stream_join":
        # the same first pass on one core, in a JVM of its own with its
        # own tmpdir: the scaling baseline (its results are not written)
        base = {k: v for k, v in args.items() if k != "out"}
        r1 = Jvm(run_dir, "local1", dict(base, cpus=1, trace=0,
                                         max_passes=1)).result()
        local1 = sum(o["wall_ns"] for o in r1["ops"]) / 1e9
    t_jvm = time.time()
    import oracle  # uses tools/oracle_check.py, which build() found present
    check = oracle.check(data, out, res["oracle_sql"], res["names"],
                         res["ops"])
    t_check = time.time()
    host1 = host_sample()
    dj = host1[1] - host0[1]
    host = {"steal_pct": 100.0 * (host1[0] - host0[0]) / dj if dj else -1.0,
            "load1_start": host0[2], "load1_end": host1[2]}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cpus": cpus, "inputs": stats, "host": host,
              "check": check, "setup_s": res["setup_s"],
              "session_ready_s": res["session_s"],
              "phase_s": {"generate": t_gen - t0, "jvms": t_jvm - t_gen,
                          "check": t_check - t_jvm,
                          "result_write": sum(o["write_ns"]
                                              for o in res["ops"]) / 1e9,
                          "spark_stop": res["stop_ms"] / 1000.0},
              "ops": [{k: o[k] for k in ("pass", "name", "wall_ns", "write_ns",
                                         "rows", "err")}
                      for o in res["ops"]]}
    if a.trace:
        m, counts = per_layer(res, stats, cpus, local1, w)
        spans = spans_of(res)
        record["spans"] = spans
        record["self_ms"] = self_times(spans)
        record["metrics"] = {k: (v, unit_of(k)) for k, v in m.items()}
    else:
        m, counts = end_to_end(res, stats["rows"][w["stressed"]], cpus, w)
        record["metrics"] = m
    record["counts"] = counts
    log(f"{a.workload} seed {a.seed}: {counts}, host {host}, "
        f"phases {record['phase_s']}, "
        f"failed {check['failed']}/{check['attempted']}")
    return record


if __name__ == "__main__":
    def _term(signum, frame):
        stop_all()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, _term)
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
