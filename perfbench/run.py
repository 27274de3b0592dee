#!/usr/bin/env python3
"""The graft benchmark: one workload, one fresh JVM, one result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload stream_state --seed 1 --seconds 10 --trace 0

Workloads: stream_state, csv_roundtrip, cold_mix, warm_exec (see
perfbench/README.md). The engine is built from source on first use
(perfbench/build.py). With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 it carries the per-layer metrics of
a traced run, and the span tree lands in .bench_build/traces/.

Before it, stdout holds the end-to-end metrics by name and unit, and
the run record (run context, failures, result-check findings, per-query
walls) as one JSON line prefixed with `record `. Exit status is 0 only
for a complete run; a run that cannot finish prints no result line.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

WORKLOADS = ("cold_mix", "warm_exec", "stream_state", "csv_roundtrip")
DATA = os.path.join(BENCH_DIR, "data", "sf0.1")
EXPECTED = os.path.join(BENCH_DIR, "expected.tsv")
HEAP = "4g"
# A run must end within 180 s; leave the JVM all but a margin of it.
JVM_DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else ""


def jvm_command(classes, jars, main_args, work):
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp"]
            + opts + ["-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(cmd, deadline_s):
    """Runs the JVM in its own process group and returns its exit status.
    The group is killed, and waited for, if the JVM outlives the
    deadline or this process is told to stop."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return p.wait(timeout=deadline_s)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] killed after {deadline_s} s", file=sys.stderr)
        return 124
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classes, jars, digest = build.ensure_built()
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    if not os.path.isdir(DATA):
        sys.exit(f"[perfbench] missing input tables under {DATA}")
    work = os.path.join(build.BUILD_DIR, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    main_args = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--data", DATA, "--work", work, "--expected", EXPECTED,
                 "--git-head", git_head(), "--source-digest", digest[:16]]
    # the deadline starts after the build: the first run in a checkout,
    # which builds, may take longer than later ones
    status = run_jvm(jvm_command(classes, jars, main_args, work), JVM_DEADLINE_S)
    partial = os.path.join(work, "record.partial.json")
    if status != 0:
        if os.path.exists(partial):
            with open(partial) as f:
                print("[perfbench] partial record " + f.read().strip(),
                      file=sys.stderr)
        sys.exit(status or 1)
    with open(os.path.join(work, "record.json")) as f:
        record = json.load(f)
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    if a.trace:
        traces = os.path.join(build.BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"), os.path.join(
            traces, f"{a.workload}-seed{a.seed}-{int(time.time())}.json"))
    for name, m in record["end_to_end"].items():
        extra = (f"  (p{m['percentile']}, n={m['n']})" if m.get("percentile")
                 else f"  (n={m['n']})" if "n" in m else "")
        print(f"{a.workload:14s} {name:16s} {fmt(m['value']):>12s} {m['unit']}{extra}")
    print("record " + json.dumps(record, separators=(",", ":")))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")))


def fmt(v):
    return "null" if v is None else f"{v:.4f}" if isinstance(v, float) else str(v)


if __name__ == "__main__":
    main()
