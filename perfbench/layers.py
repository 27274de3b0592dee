#!/usr/bin/env python3
"""Layer table of the graft benchmark, with tracing overhead, counter
determinism and thread scaling.

Usage (from the root of a checkout):

    python3 perfbench/layers.py [--seed N]

Runs, for every workload, one untraced and two traced runs of the same
seed through run.py, each for BENCHMARK.json's run_seconds. It prints,
from the trace, each layer's self time and its share of the timed query
wall, the per-layer metrics, the tracing overhead (traced against
untraced workload_s), which counts differ between the two traced runs,
and for warm_exec the 4-vs-1-thread speedup per query.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402
import run  # noqa: E402

KINDS = ["query", "build", "exec", "unpersist", "job", "stage"]
# Counts that back count-based claims only if two runs of one seed agree.
DETERMINISM = ["exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_mb",
               "build.jobs", "plan.executions", "stream.batches",
               "codegen.compiles", "codegen.warm_compiles"]


def union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(trace):
    """Total and self seconds per span kind over the timed query spans
    (the pass spans other than the warm-up and the traced extra reps);
    check spans are outside the timed wall and left out."""
    kids = {}
    for s in trace["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    timed_passes = [s for s in trace["spans"] if s["kind"] == "pass"
                    and s["name"] not in ("warmup", "rep2")]
    totals = {k: [0.0, 0.0] for k in KINDS}
    wall = 0.0

    def visit(s, lo, hi):
        a, b = max(s["start_ms"], lo), min(s["end_ms"], hi)
        if b <= a or s["kind"] == "check":
            return
        cs = kids.get(s["id"], [])
        covered = union([(max(c["start_ms"], a), min(c["end_ms"], b))
                         for c in cs if min(c["end_ms"], b) > max(c["start_ms"], a)])
        # a query's check is outside its timed wall
        checks = sum(c["end_ms"] - c["start_ms"] for c in cs if c["kind"] == "check")
        if s["kind"] in totals:
            totals[s["kind"]][0] += (b - a - checks) / 1e3
            totals[s["kind"]][1] += (b - a - covered) / 1e3
        for c in cs:
            visit(c, a, b)

    for p in timed_passes:
        for q in kids.get(p["id"], []):
            if q["kind"] == "query":
                checks = sum(c["end_ms"] - c["start_ms"] for c in kids.get(q["id"], [])
                             if c["kind"] == "check")
                wall += (q["end_ms"] - q["start_ms"] - checks) / 1e3
                visit(q, q["start_ms"], q["end_ms"])
    return totals, wall


def print_trace(trace, untraced_workload_s, traced_workload_s):
    w = trace["workload"]
    totals, wall = self_times(trace)
    print(f"\n== {w}  seed {trace['seed']}  passes {trace.get('passes', '?')}  "
          f"timed query wall {wall:.3f} s")
    print(f"{'span kind':12s} {'total_s':>9s} {'self_s':>9s} {'self share':>10s}")
    for k in KINDS:
        tot, slf = totals[k]
        share = slf / wall if wall else 0.0
        print(f"{k:12s} {tot:9.3f} {slf:9.3f} {share:10.1%}")
    print("per-layer metrics (per timed pass):")
    for name, m in trace["per_layer"].items():
        print(f"  {name:28s} {m['value']:14.4f} {m['unit']}")
    print(f"tracing overhead: workload_s {traced_workload_s:.3f} s traced vs "
          f"{untraced_workload_s:.3f} s untraced "
          f"({traced_workload_s / untraced_workload_s - 1:+.1%})")
    for row in trace.get("thread_scaling") or []:
        flag = "  SLOWER AT 4 THREADS" if row["slower_at_4"] else ""
        print(f"  scaling {row['query']:32s} 1t {row['wall_1t_s']:7.3f} s  "
              f"4t {row['wall_4t_s']:7.3f} s  speedup {row['speedup_4v1']:5.2f}x{flag}")


def run_bench(workload, seed, seconds, trace):
    before = set(glob.glob(os.path.join(build.BUILD_DIR, "traces", "*.json")))
    r = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"run.py {workload} trace={trace} failed:\n{r.stderr[-2000:]}")
    record = next(json.loads(line[len("record "):]) for line in r.stdout.splitlines()
                  if line.startswith("record "))
    new = set(glob.glob(os.path.join(build.BUILD_DIR, "traces", "*.json"))) - before
    trace_doc = None
    if trace:
        with open(max(new, key=os.path.getmtime)) as f:
            trace_doc = json.load(f)
    return record, trace_doc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    for w in run.WORKLOADS:
        plain, _ = run_bench(w, a.seed, seconds, 0)
        rec1, t1 = run_bench(w, a.seed, seconds, 1)
        _, t2 = run_bench(w, a.seed, seconds, 1)
        print_trace(t1, plain["end_to_end"]["workload_s"]["value"],
                    rec1["end_to_end"]["workload_s"]["value"])
        drift = [k for k in DETERMINISM if k in t1["per_layer"]
                 and t1["per_layer"][k]["value"] != t2["per_layer"][k]["value"]]
        for k in DETERMINISM:
            if k in t1["per_layer"]:
                v1, v2 = t1["per_layer"][k]["value"], t2["per_layer"][k]["value"]
                print(f"  determinism {k:24s} {v1:12.4f} {v2:12.4f} "
                      f"{'DRIFTS' if k in drift else 'exact'}")


if __name__ == "__main__":
    main()
