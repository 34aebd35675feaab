#!/usr/bin/env python3
"""Empirical scale-probe harness (VERDICT r15 #1, round 16).

The 100 TB design claims previously rested on plan inspection (strong,
but static). This harness turns them into MEASURED scaling evidence:

  1. `graft.Amplify` writes deterministic 8x / 32x amplifications of the
     sf0.1 fixtures (row replication with key-space offsets: join
     fan-out constant, key cardinality scales, dims verbatim, text/
     embedding salted per copy so duplicate RATE stays constant).
  2. `graft.TimeQ` times the ~44 heaviest batch rows at 1x / 8x / 32x,
     two reps each (rep 1 includes the session's one-time substrate
     materializations; rep 2 is the steady-state sample the slope uses).
  3. The slope exponent per row is  log(t32/t8) / log(4)  on steady
     reps: ~1.0 = linear in input, <1 = sub-linear (fixed costs still
     amortizing), >1.3 = super-linear — a memory cliff, driver-side
     growth, or quadratic candidate mass that plan inspection missed.

Usage (incremental — timings merge into tools/scale_probe_out.json so
long sweeps can run scale-by-scale or row-chunked):
  python3 tools/scale_probe.py amplify            # build x8 + x32 dirs
  python3 tools/scale_probe.py time x1 [rows,..]  # time rows at a scale
  python3 tools/scale_probe.py time x32 --chunk=0/2
  python3 tools/scale_probe.py report             # slope table (md)
  python3 tools/scale_probe.py retime             # adjudicate >1.3 flags:
      # re-time each flagged row set at x8+x32 in FRESH JVMs with 3
      # reps (chunk-window flags are usually co-resident contention —
      # the 32x sweeps self-load the box to load1 ~15), merge, re-report

No oracle runs at amplified scales — this is a scaling witness, not a
correctness check (the driver's sf0.01 gate is). Most streaming rows
are micro-batch lifecycle floors, but the real-stream rows whose
input mass scales ARE probed — the round-16 five (file-source window
agg, TWS funnel, update-mode ledger, foreachBatch upsert, chained
window aggs; each reads events through a staging written from
Tables.events, so no streaming schema pins the fixture file) plus,
round 17, the file-source stream-stream interval joins
(source_stream_join / _outer, which re-chunk events into time-ordered
micro-batches so watermark-driven state eviction actually runs), the
remaining stateful rows, the TPC-H tail, the write paths, and a
MEMORY/STATE axis: TimeQ now emits [timeqm] lines (per-task peak
execution memory, spill bytes, streaming state rows/bytes high-water)
and the report flags super-linear state growth that wall-time cannot
see.
"""
import json, math, os, re, subprocess, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
OUT = os.path.join(REPO, "tools", "scale_probe_out.json")
SCALES = {"x1": (SRC, 1), "x8": ("/tmp/graft_scale/x8", 8),
          "x32": ("/tmp/graft_scale/x32", 32),
          # x64 (round 20): one more doubling for the heaviest shuffle
          # producers — confirms the 8x->32x slopes hold past the
          # certified range. Amplified on demand (981 MB on disk).
          "x64": ("/tmp/graft_scale/x64", 64),
          # x124 (round 20): the Amplify ceiling (125+ would alias the
          # affine text salt) — 0.95 of a further doubling past x64.
          "x124": ("/tmp/graft_scale/x124", 124)}

# The probed-row list is the EXECUTABLE ledger (VERDICT r17 #2):
# tools/probe_ledger.json assigns every registry row a category —
# probed / micro-batch-floor / sub-floor-scalar / fixed-domain /
# pinned-witness / family-covered — with a one-line reason per
# exclusion. ProbeLedgerSpec enforces (a) ledger keys == the live
# registry, (b) every "probed" row actually carries x8+x32 samples in
# scale_probe_out.json, so "zero super-linear" is auditable from two
# machine-checked artifacts instead of three prose sections.
# gen_probe_ledger.py regenerates the ledger after a Spec add/remove.
with open(os.path.join(REPO, "tools", "probe_ledger.json")) as _f:
    _LEDGER = json.load(_f)
ROWS = sorted(n for n, e in _LEDGER.items() if e["category"] == "probed")
# Per-row exclusion rationale (the former NOT-probed comment block)
# lives in the ledger's reason strings — one source of truth.
# Probed rows whose >1.3 slope is ADJUDICATED in the ledger (an
# "adjudication" field with the evidence): measured, real, and
# explained — the report lists them separately instead of flagging.
ADJUDICATED = {n: e["adjudication"] for n, e in _LEDGER.items()
               if e.get("adjudication")}

# Rows whose retained streaming state is the axis that matters (VERDICT
# r16 #1/#2): the flagship stream-stream joins + every stateful row. For
# these the report prints srows/smem and flags super-linear STATE even
# when wall-time stays linear.
STATEFUL = set("""join_stream_stream join_stream_stream_outer
join_stream_stream_full stream_join_then_window
source_stream_join source_stream_join_outer stream_dedup
stream_session stream_watermark_late stream_tumbling stream_sliding
stream_stateful_custom stream_tws_timers stream_tws_mapstate
source_stream_window stream_transform_with_state stream_update_mode
stream_chained_agg""".split())


def run(cmd, env=None):
    e = dict(os.environ)
    if env:
        e.update(env)
    return subprocess.run(cmd, cwd=REPO, env=e, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True).stdout


def load_out():
    if os.path.exists(OUT):
        d = json.load(open(OUT))
        d.setdefault("mem", {})
        return d
    return {"reps": {}, "load1": {}, "mem": {}}


def save_out(d):
    with open(OUT, "w") as f:
        json.dump(d, f, indent=1, sort_keys=True)


def amplify():
    for tag in ("x8", "x32", "x64"):
        path, factor = SCALES[tag]
        if os.path.isdir(os.path.join(path, "lineitem.parquet")):
            print(f"[probe] {tag} exists, skipping")
            continue
        print(f"[probe] amplifying {factor}x -> {path}")
        out = run(["sbt", "-batch",
                   f"runMain graft.Amplify {SRC} {path} {factor}"])
        if out.count("[amplify]") < 10:
            sys.exit(f"amplify {tag} failed:\n{out[-2000:]}")


def load1():
    return float(open("/proc/loadavg").read().split()[0])


def time_scale(tag, rows, reps=2):
    path, _ = SCALES[tag]
    l0 = load1()
    print(f"[probe] timing {len(rows)} rows at {tag} ({path})", flush=True)
    out = run(["sbt", "-batch",
               f"runMain graft.TimeQ {path} {','.join(rows)} {reps}"],
              env={"SPARK_GRAFT_CPUS": "32"})
    res = {}
    for m in re.finditer(r"\[timeq\] (\S+)\s+([0-9. ]+)", out):
        res[m.group(1)] = [float(x) for x in m.group(2).split()]
    mem = {}
    for m in re.finditer(
            r"\[timeqm\] (\S+)\s+peak=(\S+) spill=(\S+) "
            r"srows=(\S+) smem=(\S+)(?: shuf=(\S+))?", out):
        mem[m.group(1)] = {
            "peak": [float(x) for x in m.group(2).split(",")],
            "spill": [float(x) for x in m.group(3).split(",")],
            "srows": [int(x) for x in m.group(4).split(",")],
            "smem": [float(x) for x in m.group(5).split(",")]}
        if m.group(6):  # Σ shuffle-write MB per rep (round 20)
            mem[m.group(1)]["shuf"] = [
                float(x) for x in m.group(6).split(",")]
    missing = [r for r in rows if r not in res]
    if missing:
        print(f"[probe] WARNING: no timings for {missing}; "
              f"output tail:\n{out[-1500:]}")
    d = load_out()
    d["reps"].setdefault(tag, {}).update(res)
    d["mem"].setdefault(tag, {}).update(mem)
    d["load1"].setdefault(tag, []).extend([l0, load1()])
    save_out(d)
    print(f"[probe] {tag}: merged {len(res)} rows "
          f"(+{len(mem)} mem rows), load1 [{l0:.2f}, {load1():.2f}]")


def slope_table():
    d = load_out()

    def steady(tag, r):
        reps = d["reps"].get(tag, {}).get(r)
        return min(reps[1:]) if reps and len(reps) > 1 else (
            reps[0] if reps else None)

    table = []
    for r in ROWS:
        t1, t8, t32 = steady("x1", r), steady("x8", r), steady("x32", r)
        expo = (math.log(t32 / t8) / math.log(4)
                if None not in (t8, t32) and t8 > 0 else None)
        table.append((r, t1, t8, t32, expo))
    return table


def mem_of(d, tag, row, key):
    """Capacity high-water for a (scale, row, metric): max across reps —
    first-rep inflation (one-time materializations) hits every scale the
    same way, so the 8x->32x slope stays comparable."""
    m = d.get("mem", {}).get(tag, {}).get(row)
    if not m or not m.get(key):
        return None
    return max(m[key])


def mem_table():
    """Per-row memory/state slopes (VERDICT r16 #2): peak = max per-task
    peakExecutionMemory MB; spill = total spilled MB; srows/smem =
    retained streaming-state high-water (rows / MB). Slope exponent on
    the 8x->32x pair like the time table. Returns
    (row, peak8, peak32, peakExp, spill32, srows8, srows32, srowsExp,
    smem32)."""
    d = load_out()
    out = []
    for r in ROWS:
        def g(tag, k):
            return mem_of(d, tag, r, k)

        def expo(v8, v32):
            if v8 is None or v32 is None or v8 <= 0:
                return None
            return math.log(max(v32, 1e-9) / v8) / math.log(4)
        p8, p32 = g("x8", "peak"), g("x32", "peak")
        s8, s32 = g("x8", "srows"), g("x32", "srows")
        out.append((r, p8, p32, expo(p8, p32), g("x32", "spill"),
                    s8, s32, expo(s8, s32), g("x32", "smem")))
    return out


def mem_flags():
    """Super-linear MEMORY/STATE rows: the cliff wall-time can't see.
    peak slope > 1.3 only matters once the absolute figure is past the
    64 MB noise floor (tiny hash maps round-trip through allocator
    granularity); srows growth is flagged for stateful rows at any
    absolute size — retained state ∝ input² is a design bug however
    small the fixture. Spill at the fixture scale (>256 MB) is flagged
    outright: these inputs fit in memory 100x over, so any spill is an
    operator holding more than its partition's share."""
    flags = []
    for (r, p8, p32, pExp, spill32, s8, s32, sExp, _) in mem_table():
        if pExp is not None and pExp > 1.3 and (p32 or 0) > 64:
            flags.append((r, f"peak-mem slope {pExp:.2f} ({p8:.0f}->"
                             f"{p32:.0f} MB)"))
        if r in STATEFUL and sExp is not None and sExp > 1.3 and \
                (s32 or 0) > 1000:
            flags.append((r, f"state-rows slope {sExp:.2f} ({s8}->"
                             f"{s32})"))
        # Spill flag reads the STEADY rep: a first-rep spill belongs to
        # the session's one-time substrate materialization (memoized
        # pairs/layout builds), which Bench pre-pays and bills
        # separately — at 32x over FIXED 32 shuffle partitions the
        # per-partition build volume crosses the execution-memory line
        # and the spill path does its job once. A STEADY-rep spill is
        # the operator itself exceeding its partition share every run —
        # that is the 100 TB wall this flag exists for.
        d = load_out()
        m32 = d.get("mem", {}).get("x32", {}).get(r, {})
        steady_spill = min(m32["spill"]) if m32.get("spill") else None
        if steady_spill is not None and steady_spill > 256:
            flags.append((r, f"steady spill {steady_spill:.0f} MB at 32x"))
        elif spill32 is not None and spill32 > 256:
            flags.append((r, f"substrate-build spill {spill32:.0f} MB at "
                             f"32x (first rep only; steady rep 0 — "
                             f"adjudicated in BASELINE)"))
    return flags


def report():
    d = load_out()
    table = slope_table()
    # slope on the upper pair: fixed per-query costs (plan build,
    # scheduling) dominate t1 at these sizes and would bias a 1->32
    # fit sub-linear; 8x->32x is the regime where data work rules
    table.sort(key=lambda x: -(x[4] if x[4] is not None else 99))
    print("| query | 1x s | 8x s | 32x s | slope exp (8x->32x) |")
    print("|---|---|---|---|---|")
    for r, t1, t8, t32, s in table:
        f = lambda v: "—" if v is None else f"{v:.2f}"
        print(f"| {r} | {f(t1)} | {f(t8)} | {f(t32)} | {f(s)} |")
    # x64 doubling column (VERDICT r19 #5/#6): rows with x64 samples get
    # the extra 32x->64x slope — log2(t64/t32) over one doubling.
    def steady(tag, r):
        reps = d["reps"].get(tag, {}).get(r)
        return min(reps[1:]) if reps and len(reps) > 1 else (
            reps[0] if reps else None)
    x64rows = sorted(d["reps"].get("x64", {}))
    if x64rows:
        print("\n| query | 32x s | 64x s | slope exp (32x->64x) |")
        print("|---|---|---|---|")
        for r in x64rows:
            t32, t64 = steady("x32", r), steady("x64", r)
            e = (math.log(t64 / t32) / math.log(2)
                 if None not in (t32, t64) and t32 > 0 else None)
            f = lambda v: "—" if v is None else f"{v:.2f}"
            print(f"| {r} | {f(t32)} | {f(t64)} | {f(e)} |")
    sup = [r for r, *_, s in table
           if s is not None and s > 1.3 and r not in ADJUDICATED]
    adj = [r for r, *_, s in table
           if s is not None and s > 1.3 and r in ADJUDICATED]
    print(f"\nsuper-linear (>1.3, unadjudicated): {sup or 'none'}")
    if adj:
        print("adjudicated super-linear (evidence in the ledger):")
        for r in adj:
            print(f"  {r}: {ADJUDICATED[r]}")
    print(f"load1 brackets: {d['load1']}")
    # Memory/state axis (VERDICT r16 #2): only rows with captured data.
    mt = [row for row in mem_table()
          if row[2] is not None or row[6] is not None]
    if mt:
        print("\n| query | peak8 MB | peak32 MB | peak exp | spill32 MB"
              " | srows8 | srows32 | srows exp | smem32 MB |")
        print("|---|---|---|---|---|---|---|---|---|")
        mt.sort(key=lambda x: -(x[7] if x[7] is not None
                                else (x[3] if x[3] is not None else -99)))
        for (r, p8, p32, pExp, sp32, s8, s32, sExp, sm32) in mt:
            f = lambda v: "—" if v is None else (
                f"{v:.2f}" if isinstance(v, float) else str(v))
            print(f"| {r} | {f(p8)} | {f(p32)} | {f(pExp)} | {f(sp32)} |"
                  f" {f(s8)} | {f(s32)} | {f(sExp)} | {f(sm32)} |")
        fl = mem_flags()
        print(f"\nsuper-linear memory/state: "
              f"{[f'{r}: {why}' for r, why in fl] or 'none'}")


def retime():
    flagged = [r for r, *_, s in slope_table()
               if s is not None and s > 1.3 and r not in ADJUDICATED]
    if not flagged:
        print("[probe] no rows flagged >1.3 — nothing to retime")
        return
    print(f"[probe] retiming flagged rows in fresh JVMs: {flagged}")
    for tag in ("x8", "x32"):
        time_scale(tag, flagged, reps=3)
    still = [r for r, *_, s in slope_table()
             if s is not None and s > 1.3 and r not in ADJUDICATED]
    print(f"[probe] after isolated retime, still >1.3: {still or 'none'} "
          "(a row that survives the retime is a REAL finding — fix or "
          "adjudicate with evidence; a collapsed one was chunk-window "
          "contention)")


def main():
    if len(sys.argv) < 2 or sys.argv[1] not in (
            "amplify", "time", "report", "retime"):
        sys.exit(__doc__)
    if sys.argv[1] == "amplify":
        amplify()
    elif sys.argv[1] == "report":
        report()
    elif sys.argv[1] == "retime":
        retime()
    else:
        tag = sys.argv[2]
        rows = ROWS
        for a in sys.argv[3:]:
            if a.startswith("--chunk="):
                i, n = map(int, a.split("=", 1)[1].split("/"))
                rows = [r for j, r in enumerate(ROWS) if j % n == i]
            elif not a.startswith("--"):
                rows = a.split(",")
        time_scale(tag, rows)


if __name__ == "__main__":
    main()
