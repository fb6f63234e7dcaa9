"""Per-layer metrics of a traced run.

The harness records spans around the benchmark's calls into the engine, plus
Spark's job, stage, block and query-execution events, each tagged with the
operation (query or cycle) that was running. This module turns them into the
per-layer metrics and writes the spans, with their self times, to the trace
file.
"""
import glob
import json
import os
import re
import statistics

from gen import ASSETS_PER_POLL
from oracle import result_rows

_CALL_SITE = re.compile(r"\bat (\S+\.(?:scala|java)):\d+")


def file_modules(src_root):
    """Scala file name -> engine module: its package directory under graft/
    (`sources`, `etl`, `analytics`, `operators`, `queries`, ...), or `graft`
    for the top-level files."""
    out = {}
    for p in glob.glob(os.path.join(src_root, "**", "*.scala"), recursive=True):
        parts = os.path.relpath(p, src_root).split(os.sep)
        if parts[0] == "graft":
            out[parts[-1]] = parts[1] if len(parts) > 2 else "graft"
    return out


def module_of(call_site, modules):
    """Engine module a job's `callSite.short` points into, `benchmark` for the
    harness's own calls, `other` when the file is not known."""
    m = _CALL_SITE.search(call_site or "")
    if not m:
        return "other"
    name = m.group(1)
    if name in modules:
        return modules[name]
    return "benchmark" if name in ("Harness.scala", "Trace.scala") else "other"


def job_call_site(job, execs, modules):
    """The job's own call site, or, when that is not in a known file (jobs
    adaptive execution submits from its own threads), the call site of the
    SQL execution that ran it, or of that execution's root."""
    site = job["call_site"]
    e = execs.get(job.get("exec", -1))
    for cand in (e, e and execs.get(e["root"])):
        if module_of(site, modules) != "other" or not cand:
            break
        site = cand["call_site"]
    return site


def self_times(spans):
    """span id -> duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        covered = union_length(
            (max(a, s["start_us"]), min(b, s["end_us"]))
            for a, b in kids.get(s["id"], []))
        out[s["id"]] = (s["end_us"] - s["start_us"] - covered) / 1e6
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _place_phase_spans(spans, qes):
    """Catalyst phases become spans under the innermost span that holds them."""
    next_id = max((s["id"] for s in spans), default=-1) + 1
    out = []
    for q in qes:
        for phase in ("analysis", "optimization", "planning"):
            start, end = q.get(f"{phase}_start_ms"), q.get(f"{phase}_end_ms")
            if start is None or end is None or start <= 0:
                continue
            a, b = start * 1000, end * 1000
            holders = [s for s in spans if s["op"] == q["op"]
                       and s["start_us"] <= a + 1000 and b <= s["end_us"] + 1000]
            parent = min(holders, key=lambda s: s["end_us"] - s["start_us"],
                         default=None)
            out.append({"type": "span", "op": q["op"], "id": next_id,
                        "parent": parent["id"] if parent else -1,
                        "name": f"catalyst.{phase}", "start_us": a, "end_us": b,
                        "attrs": {"func": q["func"]}})
            next_id += 1
    return spans + out


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


PER_LAYER = [
    # (name, unit)
    ("backfill_rows_per_s", "rows/s"), ("stored_bytes_per_input_byte", "ratio"),
    ("b2s.busy_s", "s"), ("b2s.rows_out", "rows"), ("sinks.silver_bytes", "bytes"),
    ("s2g.busy_s", "s"), ("s2g.rows_scanned", "rows"), ("sinks.gold_write_s", "s"),
    ("sinks.files_written", "count"), ("dashboard.busy_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("query.build_s", "s"), ("query.execute_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("driver_gap_s", "s"),
    ("task.run_s", "s"), ("task.gc_s", "s"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_s", "s"),
    ("memory.spill_bytes", "bytes"), ("stage.skew_max", "ratio"),
    ("materialize.jobs", "count"), ("materialize.s", "s"),
    ("materialize.bytes", "bytes"),
    ("join.rows_out_per_result_row", "ratio"), ("scan.rows_per_result_row", "ratio"),
    ("self_s.op", "s"), ("self_s.bronzeToSilver", "s"), ("self_s.silverToGold", "s"),
    ("self_s.dashboard", "s"), ("self_s.query.build", "s"),
    ("self_s.query.execute", "s"),
    ("trace.overhead_s", "s"), ("forcing.full_over_count", "ratio"),
]
UNITS = dict(PER_LAYER)

_MATERIALIZE = re.compile(r"^(localCheckpoint|checkpoint|cache|persist) at ")


def per_layer(workload, work, res, src_root, trace_path, query_names):
    """Per-layer metrics of a traced run; writes the trace file."""
    raw = [json.loads(line) for line in open(os.path.join(work, "trace_raw.jsonl"))
           if line.strip()]
    by_type = {}
    for r in raw:
        by_type.setdefault(r["type"], []).append(r)
    spans = _place_phase_spans(by_type.get("span", []), by_type.get("qe", []))
    selfs = self_times(spans)
    modules = file_modules(src_root)
    execs = {e["exec"]: e for e in by_type.get("sql_exec", [])}
    jobs = {}
    for j in by_type.get("job_start", []):
        site = job_call_site(j, execs, modules)
        jobs[j["job"]] = dict(j, call_site=site, module=module_of(site, modules))
    for j in by_type.get("job_end", []):
        if j["job"] in jobs:
            jobs[j["job"]]["end_ms"] = j["time_ms"]
    jobs = [j for j in jobs.values() if "end_ms" in j]

    ops = {o["op"] for o in res["cycles" if workload == "medallion" else "ops"]
           if o["traced"]}

    def in_ops(records):
        return [r for r in records if r["op"] in ops]

    def per_op(records, value):
        totals = {op: 0.0 for op in ops}
        for r in in_ops(records):
            totals[r["op"]] += value(r)
        return _mean(totals.values())

    def spans_named(name, op_set=ops):
        return [s for s in spans if s["name"] == name and s["op"] in op_set]

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    roots = {s["op"]: s for s in spans if s["parent"] == -1}
    stages, qes = by_type.get("stage", []), by_type.get("qe", [])
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["catalyst.analysis_s"] = per_op(qes, lambda q: q["analysis_ms"] / 1000)
    m["catalyst.optimization_s"] = per_op(qes, lambda q: q["optimization_ms"] / 1000)
    m["catalyst.planning_s"] = per_op(qes, lambda q: q["planning_ms"] / 1000)
    m["scheduler.jobs"] = per_op(jobs, lambda j: 1)
    m["scheduler.stages"] = per_op(stages, lambda s: 1)
    m["scheduler.tasks"] = per_op(stages, lambda s: s["tasks"])
    m["task.run_s"] = per_op(stages, lambda s: s["run_ms"] / 1000)
    m["task.gc_s"] = per_op(stages, lambda s: s["gc_ms"] / 1000)
    m["shuffle.write_bytes"] = per_op(stages, lambda s: s["shuffle_write_bytes"])
    m["shuffle.read_bytes"] = per_op(stages, lambda s: s["shuffle_read_bytes"])
    m["shuffle.fetch_wait_s"] = per_op(stages, lambda s: s["fetch_wait_ms"] / 1000)
    m["memory.spill_bytes"] = per_op(stages, lambda s: s["spill_bytes"])
    skew = {}
    for s in in_ops(stages):
        skew[s["op"]] = max(skew.get(s["op"], 1.0), s["skew"])
    m["stage.skew_max"] = statistics.median(skew.values()) if skew else 1.0
    mat = [j for j in jobs if _MATERIALIZE.match(j["call_site"])]
    m["materialize.jobs"] = per_op(mat, lambda j: 1)
    m["materialize.s"] = per_op(mat, lambda j: (j["end_ms"] - j["time_ms"]) / 1000)
    m["materialize.bytes"] = per_op(by_type.get("block", []), lambda b: b["bytes"])
    gaps = []
    for op in ops:
        if op not in roots:
            continue
        root = roots[op]
        covered = union_length(
            (max(j["time_ms"] * 1000, root["start_us"]), min(j["end_ms"] * 1000, root["end_us"]))
            for j in jobs if j["op"] == op)
        gaps.append(dur(root) - covered / 1e6)
    m["driver_gap_s"] = _mean(gaps)
    m["self_s.op"] = _mean(selfs[roots[op]["id"]] for op in ops if op in roots)
    for metric, name in (("self_s.bronzeToSilver", "Pipeline.bronzeToSilver"),
                         ("self_s.silverToGold", "Pipeline.silverToGold"),
                         ("self_s.query.build", "query.build"),
                         ("self_s.query.execute", "query.execute")):
        m[metric] = _mean(selfs[s["id"]] for s in spans_named(name))
    m["self_s.dashboard"] = per_op(
        spans_named("GoldAnalytics.dashboard") + spans_named("dashboard.collect"),
        lambda s: selfs[s["id"]])

    scan_rows = sum(q["scan_rows"] for q in in_ops(qes))
    join_rows = sum(q["join_rows"] for q in in_ops(qes))
    if workload == "medallion":
        _medallion(m, res, work, spans, jobs, qes, ops, dur, per_op)
        result = sum(c["dashboard_rows"] for c in res["cycles"] if c["op"] in ops)
        traced_s = [c["s"] for c in res["cycles"] if c["traced"]]
        plain_s = [c["s"] for c in res["cycles"] if not c["traced"]]
        if traced_s and plain_s:
            m["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(plain_s)
    else:
        rows = {n: result_rows(work, n) for n in query_names}
        result = sum(rows[o["query"]] for o in res["ops"] if o["op"] in ops)
        m["query.build_s"] = _mean(dur(s) for s in spans_named("query.build"))
        m["query.execute_s"] = _mean(dur(s) for s in spans_named("query.execute"))
        m["trace.overhead_s"] = _overhead(res["ops"])
        forcing = forcing_ratios(res["ops"], res["count_s"])
        m["forcing.full_over_count"] = statistics.median(
            f["full_over_count"] for f in forcing)
    m["scan.rows_per_result_row"] = scan_rows / max(1, result)
    m["join.rows_out_per_result_row"] = join_rows / max(1, result)

    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as f:
        for s in spans:
            f.write(json.dumps(dict(s, self_s=selfs[s["id"]])) + "\n")
        for j in jobs:
            f.write(json.dumps(dict(j, type="job")) + "\n")
        for r in raw:
            if r["type"] not in ("span", "job_start", "job_end"):
                f.write(json.dumps(r) + "\n")
        if workload != "medallion":
            for fo in forcing:
                f.write(json.dumps(dict(fo, type="forcing")) + "\n")
    return {k: (v, UNITS[k]) for k, v in m.items()}


def forcing_ratios(ops, count_s):
    """Per query: its untraced full-result time over its `.count()` time."""
    out = []
    for name, c in sorted(count_s.items()):
        full = [o["s"] for o in ops if o["query"] == name and not o["traced"]]
        if full and c > 0:
            f = statistics.median(full)
            out.append({"query": name, "full_s": f, "count_s": c,
                        "full_over_count": f / c})
    return out


def _overhead(ops):
    """Mean over queries of (traced mean − untraced mean) latency."""
    by = {}
    for o in ops:
        by.setdefault(o["query"], {True: [], False: []})[o["traced"]].append(o["s"])
    diffs = [_mean(v[True]) - _mean(v[False]) for v in by.values()
             if v[True] and v[False]]
    return _mean(diffs)


def _medallion(m, res, work, spans, jobs, qes, ops, dur, per_op):
    bf = res["backfill"]
    m["backfill_rows_per_s"] = bf["polls"] * ASSETS_PER_POLL / bf["s"]
    # every poll the run consumed ends up in the landing dir
    landed = dir_bytes(os.path.join(work, "medallion", "landing"))
    m["stored_bytes_per_input_byte"] = dir_bytes(os.path.join(work, "warehouse")) / max(1, landed)

    def within(span, t_ms):
        return span["start_us"] <= t_ms * 1000 <= span["end_us"]

    def qes_in(name, op_set):
        out = []
        for s in spans:
            if s["name"] == name and s["op"] in op_set:
                out += [q for q in qes if q["op"] == s["op"] and within(s, q["start_ms"])]
        return out

    b2s = [s for s in spans if s["name"] == "Pipeline.bronzeToSilver" and s["op"] == 0]
    m["b2s.busy_s"] = _mean(dur(s) for s in b2s)
    m["b2s.rows_out"] = sum(q["write_rows"] for q in qes_in("Pipeline.bronzeToSilver", {0}))
    m["sinks.silver_bytes"] = sum(q["write_bytes"]
                                  for q in qes_in("Pipeline.bronzeToSilver", {0}))
    s2g = [s for s in spans if s["name"] == "Pipeline.silverToGold" and s["op"] in ops]
    m["s2g.busy_s"] = _mean(dur(s) for s in s2g)
    n = max(1, len(s2g))
    m["s2g.rows_scanned"] = sum(q["scan_rows"] for q in qes_in("Pipeline.silverToGold", ops)) / n
    m["sinks.files_written"] = sum(q["write_files"]
                                   for q in qes_in("Pipeline.silverToGold", ops)) / n
    m["sinks.gold_write_s"] = sum(
        (j["end_ms"] - j["time_ms"]) / 1000 for j in jobs
        if "Sinks.scala" in j["call_site"]
        and any(within(s, j["time_ms"]) for s in s2g)) / n
    m["dashboard.busy_s"] = per_op(
        [s for s in spans if s["name"] in ("GoldAnalytics.dashboard", "dashboard.collect")],
        dur)
