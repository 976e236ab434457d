#!/usr/bin/env python3
"""Re-pins perfbench/pins.json, the fingerprints the benchmark's output
check compares against. Run from the root of a checkout:

    python3 perfbench/pin.py

Steps, all on the benchmark's own sf0.1 fixture:
  1. graft.Verify writes every workload query's result as parquet;
  2. tools/check.py compares each result that has a DuckDB oracle;
  3. the harness fingerprints every query twice, under two seeds.

A query with an oracle is pinned only if check.py passed it with the row
count the fingerprint saw ("check": "oracle"). A query without an oracle
is pinned as a regression fingerprint ("check": "regression"). Any
oracle failure, or a fingerprint that differs between the two seeds,
aborts without writing. A later mismatch is resolved by running this
again (which re-runs the oracle), never by editing pins.json by hand.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import run


def main():
    workloads = run.load_json("workloads.json")
    queries = sorted({q for wl in workloads.values() for q in wl["queries"]})
    classpath = run.build()
    pin_dir = os.path.join(run.WORK, "pin")
    shutil.rmtree(pin_dir, ignore_errors=True)
    verify_out = os.path.join(pin_dir, "verify")
    os.makedirs(pin_dir)

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.CORES))
    with open(os.path.join(pin_dir, "verify.log"), "w") as log:
        subprocess.run(run.java(classpath, pin_dir) +
                       ["graft.Verify", run.FIXTURE, verify_out, ",".join(queries)],
                       cwd=pin_dir, env=env, stdout=log, stderr=subprocess.STDOUT, check=True)
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                            run.FIXTURE, verify_out, ",".join(queries)],
                           capture_output=True, text=True)
    passed = {m.group(1): int(m.group(2))
              for m in re.finditer(r"^PASS (\S+) \((\d+) rows\)", check.stdout, re.M)}

    prints = []
    for seed in (1, 2):
        fps = {}
        for name, wl in workloads.items():
            run_dir = os.path.join(pin_dir, f"{name}-{seed}")
            os.makedirs(run_dir)
            recs, _ = run.run_jvm(classpath, name, wl["queries"], seed, 0, False, run_dir,
                                  setups=1)
            fps.update({r["query"]: r for r in recs if r["kind"] == "fingerprint"})
        prints.append(fps)

    pins, problems = {}, []
    for q in queries:
        a, b = prints[0][q], prints[1][q]
        if "error" in a or (a.get("rows"), a.get("hash")) != (b.get("rows"), b.get("hash")):
            problems.append(f"{q}: fingerprint not reproducible: {a} vs {b}")
        elif a["oracle"] and passed.get(q) != a["rows"]:
            problems.append(f"{q}: DuckDB oracle check did not pass with {a['rows']} rows")
        else:
            pins[q] = {"rows": a["rows"], "hash": a["hash"],
                       "check": "oracle" if a["oracle"] else "regression"}
    if problems:
        sys.stdout.write(check.stdout)
        sys.exit("not pinned:\n  " + "\n  ".join(problems))
    with open(os.path.join(run.BENCH, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    n_oracle = sum(p["check"] == "oracle" for p in pins.values())
    print(f"pinned {len(pins)} queries: {n_oracle} oracle-checked, "
          f"{len(pins) - n_oracle} regression-only")


if __name__ == "__main__":
    main()
