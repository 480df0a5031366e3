"""Turns the JVM harness's raw record into end-to-end and per-layer metrics.

An operation is a published stage (DAG workloads) or a registry query. Its
spans nest as operation -> construction -> SQL execution -> job, with the
Catalyst phases of each executed query beside them. SQL executions are
classified by the file of their call site (the execution's description,
e.g. `localCheckpoint at PlanCache.scala:124`); jobs are attributed through
their `spark.sql.execution.id` to that execution, never through their own
call site, which for AQE's asynchronously submitted stage jobs is
`withThreadLocalCaptured at CompletableFuture.java`.
"""
import math
import re
import statistics

# span kinds, innermost last: where spans overlap, the instant is the self
# time of the highest-ranked span covering it
RANK = {"op": 0, "construct": 1, "sql": 2, "catalyst": 4, "job": 5}

SELF_LAYERS = ("operators", "PlanCache", "catalyst", "exec", "Pipeline", "sink", "other")

_SITE = re.compile(r"^\s*(\S+) at ([^:\s]+)")


def call_site(desc):
    """('localCheckpoint', 'PlanCache.scala') from a Spark call-site string."""
    m = _SITE.match(desc or "")
    return (m.group(1), m.group(2)) if m else ("", "")


def classify(desc):
    """Layer of a SQL execution (or of a job without one) from its call site."""
    method, f = call_site(desc)
    if f == "PlanCache.scala":
        return "PlanCache"
    if f in ("Pipeline.scala", "Sinks.scala"):
        return "Pipeline.recount" if method == "count" else "Pipeline.write"
    if f == "GraftBench.scala":
        return "sink"
    if f.endswith(".scala"):
        return "operators"
    return "other"


def self_layer(cls):
    return "Pipeline" if cls.startswith("Pipeline.") else cls


def attribute_jobs(jobs, sql):
    """Layer class of each job: its SQL execution's class, else its own site.

    A job outside any SQL execution is a file listing or schema read
    (`spark.read.parquet`); in Pipeline.scala the only read is the
    re-read behind the stage's row count.
    """
    by_id = {s["id"]: s for s in sql}
    out = []
    for j in jobs:
        s = by_id.get(j["exec"]) if j.get("exec") is not None else None
        if s:
            out.append(classify(s["desc"]))
        else:
            c = classify(j["site"])
            out.append("Pipeline.recount" if c == "Pipeline.write" else c)
    return out


def self_times(spans):
    """Self time of every span, by sweep over the union of their boundaries.

    `spans` is a list of (key, start, end, rank); the first must be the
    operation, and every other span is clipped to it. Each elementary
    interval goes to the covering span of highest rank (the latest-starting
    one on a tie), so the self times sum to the operation's duration.
    Returns {key: self time}, in the unit of the timestamps.
    """
    op_key, s0, e0, _ = spans[0]
    clipped = [(k, max(s, s0), min(e, e0), r) for k, s, e, r in spans]
    clipped = [c for c in clipped if c[2] > c[1]] or [(op_key, s0, e0, 0)]
    cuts = sorted({t for _, s, e, _ in clipped for t in (s, e)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        best = None
        for k, s, e, r in clipped:
            if s <= a and e >= b and (best is None or (r, s) > (best[1], best[2])):
                best = (k, r, s)
        if best is not None:
            out[best[0]] = out.get(best[0], 0.0) + (b - a)
    return out


def union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail_percentile(values, min_beyond=10):
    """Latency at the highest whole percentile with >= min_beyond samples
    beyond it, as (percentile, value, n); (None, None, n) when there are too
    few samples for any percentile to have that many beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(99, -1, -1):
        # nearest-rank percentile: the smallest value with >= p% at or below
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            return p, xs[rank - 1], n
    return None, None, n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_tail(timed_passes):
    """op_tail_s of the timed passes' latencies, as (value, percentile, n).

    The latency at the highest percentile with >= 10 samples beyond it,
    when that percentile lies above the median. With fewer than 21 samples
    it cannot (a DAG of four stages would need 11 passes), and a
    percentile at or below the median says nothing about the slowest
    operation; then the tail is the median over the passes of each pass's
    slowest operation, reported with percentile None.
    """
    lat = [op["latency_s"] for p in timed_passes for op in p["ops"] if op["latency_s"] >= 0]
    pct, value, n = tail_percentile(lat)
    if pct is not None and pct > 50:
        return value, pct, n
    worst = [max(ok) for ok in ([op["latency_s"] for op in p["ops"] if op["latency_s"] >= 0]
                                for p in timed_passes) if ok]
    return median(worst), None, n


def reconcile_dag(rec, stages):
    """Makes every pass of a DAG record list exactly the expected stages.

    The harness names each operation after the stage Pipeline reports, so
    the expected list lives here only. A stage the pass did not publish
    becomes a failed operation of no duration; a published stage that is
    not expected fails, since nothing checks it; the unnamed span of a
    stage that raised is dropped, as its stage is already failed as
    unpublished.
    """
    for p in rec["passes"]:
        named = [op for op in p["ops"] if op["name"]]
        for op in named:
            if op["name"] not in stages:
                op["ok"], op["error"] = False, "unexpected stage"
        seen = {op["name"] for op in named}
        t = max([op["end"] for op in p["ops"]] or [p["start"]])
        for stage in stages:
            if stage not in seen:
                named.append({"id": "", "name": stage, "start": t, "construct_end": t,
                              "end": t, "ok": False, "attempts": 1, "rows": -1,
                              "error": "not published"})
        p["ops"] = named


def op_latencies(op):
    """Wall seconds of an operation, or -1 when it failed or was retried."""
    if not op["ok"] or op["attempts"] > 1:
        return -1.0
    return (op["end"] - op["start"]) / 1000.0


def end_to_end(rec, oracle_bad):
    """End-to-end metrics of an untraced run plus its attempted/failed
    counts. An operation fails when it raised, was retried, or its output
    failed the oracle; a failed operation reports -1 and is left out of
    every latency.
    """
    passes = rec["passes"]
    timed = [p for p in passes if p["kind"] == "timed" and not p["traced"]]
    cold = [p for p in passes if p["kind"] == "cold"]
    attempted = failed = 0
    for p in passes:
        for op in p["ops"]:
            attempted += 1
            t = op_latencies(op)
            if t < 0 or op["name"] in oracle_bad:
                failed += 1
                op["latency_s"] = -1.0
            else:
                op["latency_s"] = t
    lat = [op["latency_s"] for p in timed for op in p["ops"] if op["latency_s"] >= 0]
    tail, pct, n = op_tail(timed)
    m = {
        "pass_s": median([(p["end"] - p["start"]) / 1000.0 for p in timed]),
        "cold_pass_s": (cold[0]["end"] - cold[0]["start"]) / 1000.0 if cold else 0.0,
        "op_p50_s": median(lat),
        "op_tail_s": tail,
        "peak_rss_mb": rec["peak_rss_kb"] / 1024.0,
    }
    info = {"op_tail_percentile": pct, "op_tail_n": n, "timed_passes": len(timed),
            "op_fail_frac": failed / attempted if attempted else 1.0}
    return m, attempted, failed, info


def _qe_spans(qes):
    out = []
    for q in qes:
        for phase, (s, e) in q["phases"].items():
            out.append((phase, s, e))
    return out


def trace_pass(p, sql, jobs, qes, cores, dag):
    """Per-layer metrics of one traced pass, with a per-operation breakdown."""
    job_cls = attribute_jobs(jobs, sql)
    sql_cls = [classify(s["desc"]) for s in sql]
    phases = _qe_spans(qes)
    ops = []
    for op in p["ops"]:
        s0, e0 = op["start"], op["end"]

        def inside(s, e):
            # by midpoint: Spark stamps events in whole milliseconds
            return s0 <= (s + e) / 2 <= e0
        my_sql = [(s, c) for s, c in zip(sql, sql_cls) if inside(s["start"], s["end"])]
        my_jobs = [(j, c) for j, c in zip(jobs, job_cls)
                   if (op["id"] and j["op"] == op["id"]) or
                   (not j["op"] and inside(j["start"], j["end"]))]
        my_phases = [ph for ph in phases if inside(ph[1], ph[2])]
        # construction ends where the registry harness says, or for a
        # stage where its publish write starts
        ce = op.get("construct_end", -1)
        if ce is None or ce < 0:
            writes = [s["start"] for s, c in my_sql if c == "Pipeline.write"]
            ce = min(writes) if writes else e0
        ce = min(max(ce, s0), e0)
        # what is left of a stage outside construction, SQL executions and
        # jobs is the stage runner's own work (renames, FS calls); of a
        # registry query, the sink's
        outer = "Pipeline" if dag else "sink"
        spans = [("op", s0, e0, RANK["op"]),
                 (("self", "operators"), s0, ce, RANK["construct"])]
        depth = {s["id"]: 0 if s["root"] == s["id"] else 1 for s, _ in my_sql}
        for s, c in my_sql:
            spans.append((("self", self_layer(c)), s["start"], s["end"],
                          RANK["sql"] + depth[s["id"]]))
        for ph in my_phases:
            spans.append((("self", "catalyst"), ph[1], ph[2], RANK["catalyst"]))
        for j, _ in my_jobs:
            spans.append((("self", "exec"), j["start"], j["end"], RANK["job"]))
        st = self_times(spans)
        wall = (e0 - s0) / 1000.0
        op_self = st.get("op", 0.0) / 1000.0
        selfs = {layer: st.get(("self", layer), 0.0) / 1000.0 for layer in SELF_LAYERS}
        selfs[outer] += op_self
        job_iv = [(max(j["start"], s0), min(j["end"], e0)) for j, _ in my_jobs
                  if j["end"] > j["start"]]

        def incl(cls):
            return sum((s["end"] - s["start"]) / 1000.0 for s, c in my_sql
                       if c == cls and depth[s["id"]] == 0)

        def jsum(key, scale=1.0):
            return sum(j[key] for j, _ in my_jobs) * scale
        ph_sum = {k: sum((e - s) / 1000.0 for n, s, e in my_phases if n == k)
                  for k in ("analysis", "optimization", "planning")}
        ops.append({
            "name": op["name"], "wall_s": wall,
            "self": selfs, "self_sum_err_s": abs(sum(selfs.values()) - wall),
            "operators.construct_s": (ce - s0) / 1000.0,
            "operators.gate_jobs": sum(1 for _, c in my_jobs if c == "operators"),
            "PlanCache.builds": sum(1 for s, c in my_sql
                                    if c == "PlanCache" and depth[s["id"]] == 0),
            "PlanCache.build_s": incl("PlanCache"),
            "catalyst.analysis_s": ph_sum["analysis"],
            "catalyst.optimize_s": ph_sum["optimization"],
            "catalyst.planning_s": ph_sum["planning"],
            "catalyst.aqe_updates": sum(s["aqe_updates"] for s, _ in my_sql),
            "driver.nojob_s": wall - union_length(job_iv) / 1000.0,
            "exec.jobs": len(my_jobs),
            "exec.stages": jsum("stages"),
            "exec.tasks": jsum("tasks"),
            "exec.busy_s": jsum("busy_ms", 1e-3),
            "exec.cpu_s": jsum("cpu_ms", 1e-3),
            "exec.gc_s": jsum("gc_ms", 1e-3),
            "exec.input_mb": jsum("input_b", 1e-6),
            "exec.shuffle_write_mb": jsum("shuffle_write_b", 1e-6),
            "exec.shuffle_read_mb": jsum("shuffle_read_b", 1e-6),
            "exec.spill_mb": jsum("spill_b", 1e-6),
            "exec.peak_mem_mb": max([j["peak_mem_b"] for j, _ in my_jobs] or [0]) * 1e-6,
            "exec.failed_tasks": jsum("failed_tasks"),
            "Pipeline.write_s": incl("Pipeline.write"),
            "Pipeline.recount_s": incl("Pipeline.recount"),
            "Pipeline.other_s": op_self if dag else 0.0,
            "Pipeline.retries": max(op["attempts"] - 1, 0),
        })
    wall = (p["end"] - p["start"]) / 1000.0
    summed = {k: sum(o[k] for o in ops) for k in ops[0] if k not in
              ("name", "self", "wall_s", "self_sum_err_s", "exec.peak_mem_mb")} if ops else {}
    touches = p["cache_touches"]
    builds = summed.get("PlanCache.builds", 0)
    m = dict(summed)
    m.update({
        "exec.peak_mem_mb": max([o["exec.peak_mem_mb"] for o in ops] or [0.0]),
        "exec.util": summed.get("exec.busy_s", 0.0) / (cores * wall) if wall else 0.0,
        "PlanCache.hit_ratio": max(0.0, 1.0 - builds / touches) if touches else 0.0,
        "PlanCache.resident_mb": p["resident_b"] * 1e-6,
        "GateLog.decisions": p["gate_decisions"],
        "Sinks.out_mb": p["out_b"] * 1e-6,
        "Sinks.files": p["out_files"],
        "trace.self_sum_err_s": max([o["self_sum_err_s"] for o in ops] or [0.0]),
    })
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = sum(o["self"][layer] for o in ops)
    return m, ops


def per_layer(rec, input_bytes, dag):
    """Per-layer metrics of a traced run: the median over its traced timed
    passes of each pass's totals, plus the tracing overhead (median traced
    minus median untraced timed pass of the same run) and the
    per-operation breakdown of the last traced pass.
    """
    ev = rec["events"]
    traced = [p for p in rec["passes"] if p["kind"] == "timed" and p["traced"]]
    untraced = [p for p in rec["passes"] if p["kind"] == "timed" and not p["traced"]]
    rows, breakdown = [], []
    for p in traced:
        sql = [s for s in ev["sql"] if s["pass"] == p["index"]]
        jobs = [j for j in ev["jobs"] if j["pass"] == p["index"]]
        qes = [q for q in ev["qe"] if q["pass"] == p["index"]]
        m, ops = trace_pass(p, sql, jobs, qes, rec["cpus"], dag)
        m["out_bytes_per_in_byte"] = p["out_b"] / input_bytes if input_bytes else 0.0
        rows.append(m)
        breakdown = ops
    out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    out["trace.self_sum_err_s"] = max([r["trace.self_sum_err_s"] for r in rows] or [0.0])
    tp = median([(p["end"] - p["start"]) / 1000.0 for p in traced])
    up = median([(p["end"] - p["start"]) / 1000.0 for p in untraced])
    out["trace.overhead_s"] = tp - up
    return out, breakdown


def family(name):
    """Registry query-name family: the name up to its first underscore."""
    return name.split("_")[0]


def by_group(ops, dag):
    """Per-layer totals per stage (DAG) or per query-name family (registry),
    self times included.
    """
    out = {}
    for op in ops:
        g = out.setdefault(op["name"] if dag else family(op["name"]), {})
        for k, v in op.items():
            if k == "self":
                for layer, s in v.items():
                    g[f"self.{layer}_s"] = g.get(f"self.{layer}_s", 0.0) + s
            elif k == "exec.peak_mem_mb":
                g[k] = max(g.get(k, 0.0), v)
            elif k not in ("name", "self_sum_err_s"):
                g[k] = g.get(k, 0.0) + v
    return out
