#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, and the gain rule.

Usage (from anywhere; both directories are full checkouts):

    python3 tools/bench_pairs.py <parent-dir> <change-dir> --workload graft_ops --seeds 8001-8010

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one run at a time, with N
the parent's BENCHMARK.json `run_seconds`: the parent first on odd
seeds, the change first on even ones. Each run's `correct` and `failed`
are printed as it ends. At the end it prints, per end-to-end metric of
BENCHMARK.json: both medians with their quartiles, the parent's IQR
(Q3 - Q1), the change's wins (a pair where the change is better; ties
count for neither), the median gap as Δ%, and whether the gain rule
holds: at least 10 pairs, at least 9 of every 10 pairs won, a median
gap larger than the parent's IQR, and no more failed operations in the
change's runs than in the parent's. --out keeps every run's result
line as JSONL.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds):
    """One benchmark run in `checkout`; returns its last stdout line as JSON."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"bench_pairs: no result line from {checkout} seed {seed} (rc {p.returncode})")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a-b, inclusive")
    ap.add_argument("--out", help="append every run's result line here as JSONL")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]

    results = {"parent": [], "change": []}
    for seed in seeds(args.seeds):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for side in order:
            r = run(getattr(args, side), args.workload, seed, seconds)
            results[side].append(r)
            print(f"seed {seed} {side}: correct={r['correct']} failed={r['failed']} "
                  f"of {r['attempted']}", flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"seed": seed, "side": side, "workload": args.workload,
                                        **r}) + "\n")

    n = len(results["parent"])
    failed = {side: sum(r["failed"] for r in rs) for side, rs in results.items()}
    print(f"\n{args.workload}, {n} pairs, seeds {args.seeds}")
    print("| metric | parent median [Q1, Q3] | change median [Q1, Q3] | parent IQR "
          "| Δ median | change wins | gain rule |")
    print("|---|---|---|---|---|---|---|")
    for name, better in metrics:
        p = [r["metrics"][name]["value"] for r in results["parent"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        sign = -1 if better == "lower" else 1
        wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
        pm, cm = statistics.median(p), statistics.median(c)
        (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
        iqr = p3 - p1
        if n < 10:
            verdict = "no (fewer than 10 pairs)"
        elif failed["change"] > failed["parent"]:
            verdict = "no (more failures)"
        else:
            verdict = "holds" if wins * 10 >= 9 * n and sign * (cm - pm) > iqr else "no"
        delta = 100.0 * (cm - pm) / pm if pm else float("nan")
        print(f"| `{name}` | {pm:.3f} [{p1:.3f}, {p3:.3f}] | {cm:.3f} [{c1:.3f}, {c3:.3f}] "
              f"| {iqr:.3f} | {delta:+.1f}% | {wins}/{n} | {verdict} |")
    bad = [(s, r["failed"]) for s in results for r in results[s] if not r["correct"] or r["failed"]]
    print(f"runs not correct or with failures: {bad if bad else 'none'}")


if __name__ == "__main__":
    main()
