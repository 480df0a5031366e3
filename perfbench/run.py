#!/usr/bin/env python3
"""Benchmark of graft's reference DAG and its operator registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The run builds graft and the JVM
harness from source (perfbench/build.py), generates the workload's inputs
from the seed, runs the workload's passes in one JVM at local[<cores>],
checks every output against the DuckDB oracle, and prints one JSON line
last on stdout: the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1. Everything it writes goes under
.bench_build/perfbench/ in the checkout; the full result of each run (all
metrics, the per-operation breakdown, the tail percentile and its n) lands
in .bench_build/perfbench/results/, which perfbench/layerdiff.py compares.

Two options serve the one-off full-registry census in perfbench/README.md,
never the benchmark's own runs: --all-queries sweeps every
SparkEntry.queries entry instead of the sample, and --deadline lifts the
time limit of a run.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import sample_registry  # noqa: E402
from graftbench import analysis, inputs, oracle  # noqa: E402

# every run, its build included, must end within this many seconds
DEADLINE_S = 175
# set-up is measured this many times per run and reported as the median
SETUP_REPEATS = 3

WORKLOADS = {
    # Pipeline.run (clean -> match -> quality) at sf0.1: the reference DAG;
    # the stages it must publish, each with its SparkEntry.oracleSql entry;
    # three timed passes, so op_tail_s (the median of each pass's slowest
    # stage) is a true median that one disturbed pass cannot move
    "etl_sf0.1": {
        "kind": "etl", "data": "data/sf0.1", "dag": True, "min_passes": 3, "stages": {
            "abr_cleaned": "clean_abr",
            "cc_cleaned": "clean_cc",
            "entity_matches": "match_combined",
            "quality_metrics": "quality_metrics",
        },
    },
    # a stratified sample of SparkEntry.queries (sample_registry.py) at sf0.01
    "registry_sf0.01": {
        "kind": "registry", "data": "data/sf0.01", "dag": False, "min_passes": 2,
        "queries": "registry_queries.txt",
    },
}

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def heap():
    """The Tier-1 heap rule: half of RAM, between 2g and 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def read_queries(path):
    with open(path) as f:
        return [line.split("#")[0].strip() for line in f
                if line.split("#")[0].strip()]


def run_jvm(root, classes, w, queries, input_dir, work, seconds, trace, deadline):
    result = os.path.join(work, f"record-trace{trace}.json")
    if os.path.exists(result):
        os.remove(result)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{heap()}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}:{os.path.join(build.spark_jars(root), '*')}",
            "graftbench.Main", w["kind"], input_dir, work, str(seconds), str(trace), result,
            str(w["min_passes"])]
    if queries:
        qfile = os.path.join(work, "queries.txt")
        with open(qfile, "w") as f:
            f.write("\n".join(queries) + "\n")
        cmd.append(qfile)
    log_path = os.path.join(work, f"jvm-trace{trace}.log")
    spawn_ms = time.time() * 1000.0
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM run exceeded the deadline; log: {log_path}")
    if r.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM run failed ({r.returncode}); log tail:\n{tail}")
    with open(result) as f:
        rec = json.load(f)
    return rec, spawn_ms, result


def metric_specs(kind):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all-queries", action="store_true")
    ap.add_argument("--deadline", type=float, default=DEADLINE_S)
    args = ap.parse_args()
    deadline = time.monotonic() + args.deadline
    root = os.getcwd()
    w = WORKLOADS[args.workload]
    queries = None
    if w["kind"] == "registry":
        if args.all_queries:
            queries = sample_registry.bench_order(sample_registry.registry(root))
        else:
            queries = read_queries(os.path.join(HERE, w["queries"]))

    classes = build.build(root)
    work = os.path.join(root, ".bench_build", "perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    input_dir = os.path.join(work, "input")
    base = os.path.join(HERE, w["data"])
    tables = sorted(f[:-len(".parquet")] for f in os.listdir(base) if f.endswith(".parquet"))
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        in_bytes = inputs.generate(base, input_dir, tables, args.seed)
        gen_s.append(time.perf_counter() - t)

    rec, spawn_ms, record_path = run_jvm(root, classes, w, queries, input_dir, work,
                                         args.seconds, args.trace, deadline)
    con = oracle.connect(input_dir, work)
    if w["dag"]:
        analysis.reconcile_dag(rec, w["stages"])
        bad = oracle.check_dag(con, rec["out_dir"], rec["oracle_sql"], w["stages"])
    else:
        bad = oracle.check_registry(con, rec["check_dir"], rec["oracle_sql"], queries)
    con.close()
    for name, reason in sorted(bad.items()):
        print(f"[perfbench] oracle mismatch {name}: {reason}", file=sys.stderr)

    e2e, attempted, failed, info = analysis.end_to_end(rec, set(bad))
    info["setup_session_s"] = (rec["session_ready_ms"] - spawn_ms) / 1000.0
    info["setup_inputs_s"] = gen_s
    e2e["setup_s"] = info["setup_session_s"] + statistics.median(gen_s)
    info["input_bytes"] = in_bytes
    if args.trace:
        layers, breakdown = analysis.per_layer(rec, in_bytes, w["dag"])
        computed, specs = layers, metric_specs("per_layer")
    else:
        breakdown = []
        computed, specs = e2e, metric_specs("end_to_end")
    missing = [s["name"] for s in specs if s["name"] not in computed]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")

    results = os.path.join(root, ".bench_build", "perfbench", "results")
    os.makedirs(results, exist_ok=True)
    suffix = "-all" if args.all_queries else ""
    stem = os.path.join(results, f"{args.workload}{suffix}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"workload": args.workload, "dag": w["dag"], "seed": args.seed,
                   "trace": args.trace,
                   "attempted": attempted, "failed": failed, "oracle_bad": bad,
                   "end_to_end": e2e, "per_layer": computed if args.trace else {},
                   "info": info, "ops": breakdown,
                   "groups": analysis.by_group(breakdown, w["dag"]),
                   "passes": [{"index": p["index"], "kind": p["kind"], "traced": p["traced"],
                               "wall_s": (p["end"] - p["start"]) / 1000.0,
                               "ops": [[o["name"], o.get("latency_s", -1.0)] for o in p["ops"]]}
                              for p in rec["passes"]]}, f, indent=1)
    if args.trace:
        shutil.copyfile(record_path, stem + ".spans.json")

    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {s["name"]: {"value": computed[s["name"]], "unit": s["unit"]} for s in specs},
    }))


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
