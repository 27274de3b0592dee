#!/usr/bin/env python3
"""Sampled (hash-carved) oracle mode for the quadratic dedup/CC
oracles (r13 verdict task 4; manifests + replay are r14 task 2).

The sf0.1 sweep leaves a handful of dedup/CC rows validated only at
sf0.01 because their ground-truth DuckDB oracles are quadratic BY
DESIGN (all-pairs list_intersect Jaccard, recursive-CTE components) —
at 5000 docs the ORACLE, not the engine, exceeds the 600 s budget. A
deterministic id carve (id % MOD == 0) shrinks the oracle's pair space
by MOD² while keeping ~10× the sf0.01 row volume, closing those rows
at sf0.1 within budget. Two soundness regimes:

  RESTRICTED-DUMP (q41 q157 q159 q245 — per-pair outputs): the
  full-corpus engine dump, filtered to pairs with BOTH endpoints in
  the carve, must equal the quadratic oracle run over the carved
  documents view. Sound because each pair's cells depend only on the
  two documents' own shingle/signature sets, and the engine's banded
  candidate generation is complete — a qualifying carve-internal pair
  missing from the full dump is a real recall bug, and an extra one
  is a real precision bug. This is the STRONGER mode: it validates
  the committed full-corpus dump itself.

  CARVE-RERUN (the 12 cluster/greedy/aggregate rows): cluster labels,
  dedup survivorship, greedy selection, and corpus-global rate/savings
  aggregates are NOT restriction-closed (a carved doc's duplicate twin
  may sit outside the carve — verified for the r14-advice candidates
  q229 and q275: both aggregate over a corpus-global dup flag /
  component id, so restricting their dumps is unsound). Both sides
  run on the carved INPUT: graft.Verify against a carve directory,
  the oracle against the same directory — the operator validated at
  carve scale (~3.3× the sf0.01 gate volume) through the standard
  harness.

Every PASS writes a manifest under tools/sampled_manifests/ (query →
mode, carve spec, canonical row hash, row count, walls, git head,
date) so the closure is a committed, replayable artifact instead of
SCALE.md prose. `replay <query>|all` re-derives everything from the
manifest in one command and fails loudly on any hash drift.

Usage:
  tools/sampled_oracle.py carve <sfDir> <carveDir> [mod=3]
  tools/sampled_oracle.py pairs <query> <sfDir> <outDir> [mod=3]
      restricted-dump check of an existing full dump + manifest write
      (q41, q157_prefix_jaccard, q159_minhash_estimate,
       q245_neardup_explain)
  tools/sampled_oracle.py rerun <query> <sfDir> [mod=3]
      carve-rerun: carve, run graft.Verify on the carve, compare the
      oracle over the carve, write the manifest
  tools/sampled_oracle.py replay <query>|all [sfDir=/root/testdata/sf0.1]
      re-check a closure from its manifest (re-runs the engine side
      via sbt; restricted-dump replays re-dump the FULL corpus)

Driver-side tooling only — NOT part of the shipped library.
"""
import datetime
import hashlib
import json
import os
import subprocess
import sys
import time

import duckdb

from check import canon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST_DIR = os.path.join(REPO, "tools", "sampled_manifests")
TABLES = ("documents", "doc_id"), ("embeddings", "vec_id")


def canon_hash(cols, rows):
    h = hashlib.sha256()
    h.update(("|".join(cols) + "\n").encode())
    for r in rows:
        h.update(("\x01".join(r) + "\n").encode())
    return h.hexdigest()


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                              cwd=REPO, capture_output=True,
                              text=True).stdout.strip()
    except OSError:
        return "unknown"


def write_manifest(query, mode, sf_dir, mod, rows, cols, h, walls):
    os.makedirs(MANIFEST_DIR, exist_ok=True)
    m = {
        "query": query,
        "mode": mode,
        "sf_dir": sf_dir,
        "carve": {"tables": {t: k for t, k in TABLES}, "mod": mod,
                  "predicate": f"<key> % {mod} = 0"},
        "rows": rows,
        "columns": cols,
        "canon_sha256": h,
        "walls_sec": walls,
        "git_head": git_head(),
        "date": datetime.datetime.now(datetime.timezone.utc)
                .strftime("%Y-%m-%dT%H:%M:%SZ"),
        "replay": f"tools/sampled_oracle.py replay {query} {sf_dir}",
    }
    path = os.path.join(MANIFEST_DIR, f"{query}.json")
    with open(path, "w") as f:
        json.dump(m, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"manifest -> {os.path.relpath(path, REPO)}")


def carve(sf_dir, carve_dir, mod):
    con = duckdb.connect()
    os.makedirs(carve_dir, exist_ok=True)
    for t, key in TABLES:
        con.execute(
            f"COPY (SELECT * FROM '{sf_dir}/{t}.parquet' "
            f"WHERE {key} % {mod} = 0) "
            f"TO '{carve_dir}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(
            f"SELECT count(*) FROM '{carve_dir}/{t}.parquet'"
        ).fetchone()[0]
        print(f"carved {t}: {n} rows (mod {mod})")


def run_verify(sf_dir, out_dir, query):
    """Engine-side dump of one query via the standard harness."""
    t0 = time.time()
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {sf_dir} {out_dir} {query}"],
        cwd=REPO, env=env, capture_output=True, text=True)
    if r.returncode != 0 or not os.path.isdir(f"{out_dir}/{query}"):
        print(r.stdout[-2000:], r.stderr[-2000:])
        sys.exit(f"Verify failed for {query}")
    return time.time() - t0


def oracle_sql_for(query, out_dir=None):
    """Oracle SQL from a dump dir if present, else from a fresh dump's
    oracle_sql.json written by any prior Verify run this session."""
    for d in ([out_dir] if out_dir else []):
        p = f"{d}/oracle_sql.json"
        if p and os.path.exists(p):
            return json.load(open(p))[query]
    sys.exit(f"no oracle_sql.json found for {query} — run Verify first")


def engine_rows(con, out_dir, query, where=""):
    q = con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/{query}/*.parquet')"
        + (f" WHERE {where}" if where else ""))
    return q.fetchall(), [d[0] for d in q.description]


def compare(query, tag, g_rows, g_cols, e_rows, e_cols):
    gc, gr = canon(g_rows, g_cols)
    ec, er = canon(e_rows, e_cols)
    if gc != ec:
        print(f"SCHEMA {query}_{tag}: {gc} vs {ec}")
        sys.exit(1)
    if gr != er:
        only_e = set(er) - set(gr)
        only_g = set(gr) - set(er)
        print(f"ROWS {query}_{tag}: engine {len(gr)} vs oracle "
              f"{len(er)}; oracle-only {sorted(only_e)[:5]} "
              f"engine-only {sorted(only_g)[:5]}")
        sys.exit(1)
    return gc, gr


def pairs_restricted(query, sf_dir, out_dir, mod, walls=None,
                     record=True):
    """Restricted-dump: full dump filtered to carve-internal pairs vs
    the quadratic oracle over the carved view. Returns (cols, rows);
    writes the manifest only when `record`."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet' WHERE doc_id % {mod} = 0")
    if os.path.exists(f"{sf_dir}/embeddings.parquet"):
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{sf_dir}/embeddings.parquet' WHERE vec_id % {mod} = 0")
    oracle = oracle_sql_for(query, out_dir)
    t0 = time.time()
    exp = con.execute(oracle)
    e_rows, e_cols = exp.fetchall(), [d[0] for d in exp.description]
    t_oracle = time.time() - t0
    g_rows, g_cols = engine_rows(
        con, out_dir, query,
        where=f"id1 % {mod} = 0 AND id2 % {mod} = 0")
    cols, rows = compare(query, "restricted", g_rows, g_cols,
                         e_rows, e_cols)
    print(f"PASS {query}_restricted: {len(rows)} carve-internal pairs "
          f"bit-match the quadratic oracle (mod {mod}, "
          f"oracle {t_oracle:.0f}s)")
    if record:
        w = dict(walls or {})
        w["oracle"] = round(t_oracle, 1)
        write_manifest(query, "restricted-dump", sf_dir, mod,
                       len(rows), cols, canon_hash(cols, rows), w)
    return cols, rows


def carve_rerun(query, sf_dir, mod, carve_dir=None, out_dir=None,
                record=True):
    """Carve-rerun: engine AND oracle both on the carved input; writes
    the manifest only when `record`."""
    carve_dir = carve_dir or f"/tmp/graft_carve_mod{mod}"
    out_dir = out_dir or f"/tmp/graft_carve_out_{query}"
    need = [t for t, _ in TABLES
            if not os.path.exists(f"{carve_dir}/{t}.parquet")]
    if need:
        carve(sf_dir, carve_dir, mod)
    t_engine = run_verify(carve_dir, out_dir, query)
    con = duckdb.connect()
    for t, _ in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{carve_dir}/{t}.parquet'")
    oracle = oracle_sql_for(query, out_dir)
    t0 = time.time()
    exp = con.execute(oracle)
    e_rows, e_cols = exp.fetchall(), [d[0] for d in exp.description]
    t_oracle = time.time() - t0
    g_rows, g_cols = engine_rows(con, out_dir, query)
    cols, rows = compare(query, "carve", g_rows, g_cols, e_rows, e_cols)
    print(f"PASS {query}_carve: {len(rows)} rows bit-match the oracle "
          f"on the mod-{mod} carve (engine {t_engine:.0f}s, "
          f"oracle {t_oracle:.0f}s)")
    if record:
        write_manifest(query, "carve-rerun", sf_dir, mod, len(rows), cols,
                       canon_hash(cols, rows),
                       {"engine": round(t_engine, 1),
                        "oracle": round(t_oracle, 1)})
    return cols, rows


def replay(target, sf_dir):
    """Re-derive a closure from its committed manifest; fail on any
    schema/row/hash drift. `all` replays every manifest. A replay only
    compares and reports: it never rewrites a manifest, so a drift
    stays a failure on every later replay too."""
    names = (sorted(f[:-5] for f in os.listdir(MANIFEST_DIR)
                    if f.endswith(".json"))
             if target == "all" else [target])
    if not names:
        sys.exit("no manifests found — run pairs/rerun first")
    failed = []
    for name in names:
        m = json.load(open(os.path.join(MANIFEST_DIR, f"{name}.json")))
        mod = m["carve"]["mod"]
        prior_hash, prior_rows = m["canon_sha256"], m["rows"]
        if m["mode"] == "restricted-dump":
            out_dir = f"/tmp/graft_replay_{name}"
            run_verify(sf_dir, out_dir, name)
            cols, rows = pairs_restricted(name, sf_dir, out_dir, mod,
                                          record=False)
        else:
            cols, rows = carve_rerun(name, sf_dir, mod, record=False)
        h = canon_hash(cols, rows)
        if h != prior_hash or len(rows) != prior_rows:
            print(f"DRIFT {name}: manifest {prior_rows} rows "
                  f"{prior_hash[:12]} vs replay {len(rows)} rows "
                  f"{h[:12]}")
            failed.append(name)
        else:
            print(f"REPLAY OK {name}: {len(rows)} rows, hash matches "
                  f"manifest ({m['date']}, {m['git_head']})")
    if failed:
        sys.exit(f"replay FAILED for: {' '.join(failed)}")
    print(f"== replay green for {len(names)} manifest(s)")


def main():
    cmd = sys.argv[1]
    if cmd == "carve":
        mod = int(sys.argv[4]) if len(sys.argv) > 4 else 3
        carve(sys.argv[2], sys.argv[3], mod)
    elif cmd == "q41":  # back-compat alias
        mod = int(sys.argv[4]) if len(sys.argv) > 4 else 3
        pairs_restricted("q41_minhash_neardup", sys.argv[2],
                         sys.argv[3], mod)
    elif cmd == "pairs":
        mod = int(sys.argv[5]) if len(sys.argv) > 5 else 3
        pairs_restricted(sys.argv[2], sys.argv[3], sys.argv[4], mod)
    elif cmd == "rerun":
        mod = int(sys.argv[4]) if len(sys.argv) > 4 else 3
        carve_rerun(sys.argv[2], sys.argv[3], mod)
    elif cmd == "replay":
        sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
        replay(sys.argv[2], sf)
    else:
        sys.exit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
