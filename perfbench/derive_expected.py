#!/usr/bin/env python3
"""Derives perfbench/expected.tsv, the canonical result digests the
benchmark checks every query against.

Usage (from the root of a full checkout, DuckDB installed):

    python3 perfbench/derive_expected.py

It rewrites expected.tsv with every query the workloads run. For each
query it

  1. dumps the engine's result at sf0.1 with graft.Verify (local[4]),
  2. compares the dump with the query's DuckDB oracle, tools/check.py,
  3. digests the dump with the benchmark's own canonical hash.

A query is written only if its dump passes step 2; a query without an
oracle (rows-only check) is marked as such. Queries whose oracle is
quadratic at sf0.1 (tools/sampled_manifests/) need their manifest
replayed with tools/sampled_oracle.py before they are added here.
"""
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402
import run  # noqa: E402


def java(classes, jars, main, args, env=None):
    cmd = run.jvm_command(classes, jars, [], os.path.join(build.BUILD_DIR, "derive"))
    cmd = cmd[:cmd.index("perfbench.Main")] + [main] + args
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    if r.returncode != 0:
        sys.exit(f"{main} failed:\n{r.stderr[-3000:]}")
    return r.stdout


def main():
    classes, jars, _ = build.ensure_built()
    work = os.path.join(build.BUILD_DIR, "derive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    names = java(classes, jars, "perfbench.Main", ["--list"]).split()
    dump = os.path.join(work, "dump")
    java(classes, jars, "graft.Verify", [run.DATA, dump] + names,
         env=dict(os.environ, SPARK_GRAFT_CPUS="4"))
    chk = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check.py"),
                          run.DATA, dump] + names, capture_output=True, text=True)
    print(chk.stdout, end="")
    verdict = {}
    for line in chk.stdout.splitlines():
        m = re.match(r"(PASS|NOORA)\s+(\S+?):", line)
        if m and (m.group(1) == "PASS" or "rows-only check: PASS" in line):
            verdict[m.group(2)] = "oracle" if m.group(1) == "PASS" else "rows-only"
    missing = [n for n in names if n not in verdict]
    if missing:
        sys.exit(f"not derived, dump failed the oracle check: {' '.join(missing)}")
    digests = dict(line.split("\t") for line in java(
        classes, jars, "perfbench.Main", ["--hash-dump", dump] + names).splitlines()
        if "\t" in line)
    with open(run.EXPECTED, "w") as f:
        f.write("# query\tcanonical digest (perfbench/src/Canon.scala)\t"
                "check the sf0.1 dump passed\n")
        for q in sorted(names):
            f.write(f"{q}\t{digests[q]}\t{verdict[q]}\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {len(names)} digests to {os.path.relpath(run.EXPECTED)}")


if __name__ == "__main__":
    main()
