#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run, one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload hive_sql --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the harness and the library sources
with sbt (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. Each run starts one JVM (perfbench.Main) that
sets the session up three times, runs the workload's queries once cold
and then in warm rounds, each round in a new seed-shuffled order, and
fingerprints every query's result. This script turns its records into
metrics, checks the fingerprints against perfbench/pins.json, and prints
the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and keeps the run's spans in perfbench/.work/last/).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
FIXTURE = os.path.join(BENCH, "fixture", "sf0.1")

CORES = 4
HEAP = "3g"
SETUPS = 3
MIN_ROUNDS = 3
# nominal time of one warm round of either workload on a 4-vCPU host;
# --seconds / ROUND_S sets the number of warm rounds
ROUND_S = 5.0
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600

# Matches build.sbt's jdk17AddOpens: a partial set makes exactly the
# metastore and Hive-format queries fail late.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [
    ("setup_s", "s"), ("cold_total_s", "s"), ("warm_total_s", "s"),
    ("query_p50_s", "s"), ("query_tail_s", "s"), ("heap_peak_mb", "MB"),
]

# Per-execution counters from perfbench.Tracer; the workload value is the
# sum over queries of each query's median over its warm executions.
# (Left out because they read 0 on every run here: rule time of graft.*
# optimizer rules, which this session shape never installs, and shuffle
# fetch wait, which local mode does not have.)
SUMMED = [
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("catalyst.parse_s", "s"), ("catalyst.analyze_s", "s"),
    ("catalyst.optimize_s", "s"), ("catalyst.plan_s", "s"),
    ("catalyst.self_s", "s"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("exec.job_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.cpu_s", "s"),
    ("driver.gap_s", "s"),
    ("scan.input_bytes", "bytes"), ("scan.input_records", "count"),
    ("scan.tasks", "count"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("spill.bytes", "bytes"),
    ("write.output_bytes", "bytes"), ("write.output_records", "count"),
    ("write.files", "count"),
    ("checkpoint.bytes", "bytes"), ("checkpoint.files", "count"),
    ("cache.bytes_stored", "bytes"),
]
# GC pauses are too rare for a per-query median; these are totals over all
# the run's warm executions
TOTALLED = [("exec.gc_s", "s"), ("jvm.gc_s", "s")]
# the parts of the first, cold set-up
SETUP_LAYERS = ["setup.session_s", "setup.tables_s", "setup.functions_s", "setup.warmup_s"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def load_json(name):
    with open(os.path.join(BENCH, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build --

def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources;
    returns the runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                           f"-Dsbt.repository.config={repos}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Dsbt.server.autostart=false -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "compile", "writeClasspath"],
                                cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (rc={rc}), log in {log_path}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


# ------------------------------------------------------------------ run --

def java(classpath, run_dir):
    """The pinned JVM: fixed heap, the complete add-opens set, UTC, and a
    temp dir inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    return (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC", "-cp", classpath])


def run_jvm(classpath, workload, queries, seed, rounds, trace, run_dir, setups=SETUPS):
    """Runs perfbench.Main once; returns its records and the spans' path."""
    records = os.path.join(run_dir, "records.jsonl")
    spans = os.path.join(run_dir, "trace.jsonl")
    cmd = java(classpath, run_dir) + [
        "perfbench.Main", records, spans, FIXTURE, run_dir, workload, ",".join(queries),
        str(seed), str(rounds), str(setups), "1" if trace else "0"]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    recs = []
    if os.path.exists(records):
        with open(records) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    if rc != 0 or not recs or recs[-1].get("kind") != "end":
        with open(log_path, errors="replace") as f:
            tail = [l for l in f.readlines() if "[perfbench]" in l or "Exception" in l][-20:]
        sys.stderr.write("".join(tail))
        raise RuntimeError(f"measuring JVM ended with {rc}")
    return recs, spans


def median(xs):
    return statistics.median(xs) if xs else 0.0


def analyse(recs, pins, queries):
    """End-to-end metrics, per-query medians and the output check."""
    setups = [r for r in recs if r["kind"] == "setup"]
    rounds = [r for r in recs if r["kind"] == "round"]
    dropped = {(r["round"], r["attempt"]) for r in rounds if r.get("contaminated")}
    execs = [r for r in recs if r["kind"] == "exec"
             and (r["round"], r.get("attempt", 0)) not in dropped]
    cold = [r for r in execs if r["pass"] == "cold"]
    warm = [r for r in execs if r["pass"] == "warm"]
    warm_by_q = {q: [r for r in warm if r["query"] == q] for q in queries}

    walls = sorted(r["wall_s"] for r in warm)
    n = len(walls)
    tail_i = max(0, n - 11)  # the value with 10 warm executions above it
    e2e = {
        "setup_s": median([s["setup_s"] for s in setups]),
        "cold_total_s": sum(r["wall_s"] for r in cold),
        "warm_total_s": sum(median([r["wall_s"] for r in rs]) for rs in warm_by_q.values()),
        "query_p50_s": median(walls),
        "query_tail_s": walls[tail_i] if walls else 0.0,
        "heap_peak_mb": max(r["heap_mb"] for r in rounds if r["heap_mb"] is not None),
    }
    tail_pct = 100.0 * (tail_i + 1) / n if n else 0.0

    # output check: every fingerprint against its pin
    mismatches = []
    fps = [r for r in recs if r["kind"] == "fingerprint"]
    for fp in fps:
        pin = pins.get(fp["query"])
        got = {"rows": fp.get("rows"), "hash": fp.get("hash")}
        if pin is None or "error" in fp or got != {"rows": pin["rows"], "hash": pin["hash"]}:
            mismatches.append((fp["query"], got, pin))
    threw = [r for r in execs if not r["ok"]]
    attempted = len(execs) + len(fps)
    failed = len(threw) + len(mismatches)
    validity = {
        "rounds": len([r for r in rounds if r["pass"] == "warm"]) - len(dropped),
        "rounds_rerun": len(dropped),
        "steal_core_s": [r["steal_core_s"] for r in rounds if r["pass"] == "warm"],
        "cal_s": [round(r["cal_s"], 4) for r in rounds if r["pass"] == "warm"],
        "heap_mb": [round(r["heap_mb"], 1) for r in rounds if r["heap_mb"] is not None],
        "query_tail_pct": round(tail_pct, 1),
        "warm_executions": n,
    }
    return e2e, warm_by_q, threw, mismatches, attempted, failed, validity, setups


def per_layer(e2e, warm_by_q, setups):
    checks = ["trace.sum_err_ms", "trace.outside_events", "trace.stray_events"]
    med = {q: {k: median([r[k] for r in rs]) for k in [k for k, _ in SUMMED] + checks}
           for q, rs in warm_by_q.items() if rs}
    layer = {k: (sum(m[k] for m in med.values()), unit) for k, unit in SUMMED}
    for k, unit in TOTALLED:
        layer[k] = (sum(r[k] for rs in warm_by_q.values() for r in rs), unit)
    layer["setup.cold_s"] = (setups[0]["setup_s"], "s")
    for k in SETUP_LAYERS:
        layer[k] = (setups[0][k], "s")
    job_s, task_s = layer["exec.job_s"][0], layer["exec.task_s"][0]
    layer["exec.slot_util"] = (task_s / (job_s * CORES) if job_s else 0.0, "ratio")
    shares = [median([r["scan.max_task_share"] for r in rs])
              for rs in warm_by_q.values() if rs and any(r["scan.tasks"] for r in rs)]
    layer["scan.max_task_share"] = (sum(shares) / len(shares) if shares else 0.0, "ratio")
    inb = layer["scan.input_bytes"][0]
    layer["write.bytes_per_input_byte"] = (
        layer["write.output_bytes"][0] / inb if inb else 0.0, "ratio")
    layer["trace.warm_total_s"] = (e2e["warm_total_s"], "s")
    return layer, med


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no library sources under {ROOT}/src/main/scala: run from a full checkout")
    workloads = load_json("workloads.json")
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(workloads)}")
    wl = workloads[args.workload]
    pins = load_json("pins.json")
    rounds = max(MIN_ROUNDS, round(args.seconds / ROUND_S))

    classpath = build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        recs, spans_path = run_jvm(classpath, args.workload, wl["queries"], args.seed,
                                   rounds, args.trace == 1, run_dir)
        e2e, warm_by_q, threw, mismatches, attempted, failed, validity, setups = \
            analyse(recs, pins, wl["queries"])
        # the raw records (and, traced, the spans) of each workload's
        # latest run stay in .work/last/ for inspection
        os.makedirs(os.path.join(WORK, "last"), exist_ok=True)
        last = os.path.join(WORK, "last", f"{args.workload}-seed{args.seed}")
        shutil.copy(os.path.join(run_dir, "records.jsonl"), f"{last}.records.jsonl")

        print(f"workload={args.workload} seed={args.seed} queries={len(wl['queries'])} "
              f"rounds={rounds} trace={args.trace} run_wall_s={time.time() - t0:.1f}")
        print("validity " + json.dumps(validity))
        for r in threw:
            print(f"FAILED {r['query']} ({r['pass']} {r['round']}): {r['error']}")
        for q, got, pin in mismatches:
            print(f"MISMATCH {q}: got {got} pinned {pin}")
        print(f"failed_frac={failed / attempted:.6f} ({failed} of {attempted} executions)")
        if args.trace == 0:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
            for k, u in END_TO_END:
                extra = (f" (p{validity['query_tail_pct']} of {validity['warm_executions']} "
                         "warm executions)") if k == "query_tail_s" else ""
                print(f"{k} = {e2e[k]:.4f} {u}{extra}")
        else:
            layer, med = per_layer(e2e, warm_by_q, setups)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            for k, (v, u) in layer.items():
                print(f"{k} = {v:.6g} {u}")
            worst = max(med.items(), key=lambda kv: kv[1]["trace.sum_err_ms"])
            print(f"layer sum check: construct + catalyst + jobs + gap vs wall, worst query "
                  f"{worst[0]}: {worst[1]['trace.sum_err_ms']:.2f} ms; events outside their "
                  f"span: {sum(m['trace.outside_events'] for m in med.values())}, "
                  f"events before any span: {sum(m['trace.stray_events'] for m in med.values())}")
            shutil.copy(spans_path, f"{last}.spans.jsonl")
            with open(f"{last}.layers.json", "w") as f:
                json.dump(med, f, indent=1, sort_keys=True)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    except RuntimeError as e:
        fail(str(e))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
