"""Pure helpers of the archive-path benchmark: percentiles, span self
time, per-layer aggregation, end-to-end metrics and the result line.
No I/O and no engine: ``tests/test_metrics.py`` covers them."""

import json
import math
import statistics

# End-to-end metrics printed by every workload (BENCHMARK.json
# "end_to_end"): set-up, memory, and the rate of each of the workload's
# three steps (README.md says what each step is per workload).
UNITS = {"setup_s": "s", "heap_peak_mb": "MB", "step1_per_s": "1/s",
         "step2_per_s": "1/s", "step3_per_s": "1/s"}

# Per-layer metrics reported by a traced run (BENCHMARK.json "per_layer").
BASE = ("p50_ms", "self_p50_ms", "jobs_per_call", "tasks_per_call",
        "executor_cpu_s", "shuffle_mb", "planning_ms", "driver_wait_frac")
LAYER_METRICS = {
    "api.ingest_submissions": BASE + ("bytes_written_mb",),
    "api.ingest_users": BASE + ("bytes_written_mb",),
    "storage.read": ("p50_ms", "jobs_per_call", "tasks_per_call",
                     "executor_cpu_s", "driver_wait_frac", "files_listed"),
    "storage.overwrite": BASE + ("max_task_over_median", "bytes_written_mb"),
    "engine.incremental_merge": ("p50_ms", "self_p50_ms", "jobs_per_call",
                                 "planning_ms"),
    "engine.merge_submissions": ("p50_ms", "self_p50_ms", "jobs_per_call",
                                 "planning_ms"),
    "maintenance.merged_jsonl": BASE + ("max_task_over_median",
                                        "bytes_written_mb"),
    "operators.multi_sketch_pairs": BASE + ("max_task_over_median",),
    "operators.connected_components": BASE + ("max_task_over_median",),
    "operators.sparse_topk": BASE + ("max_task_over_median",),
    "plans.asof_join": BASE + ("max_task_over_median",),
}
LAYER_UNITS = {"p50_ms": "ms", "self_p50_ms": "ms", "jobs_per_call": "count",
               "tasks_per_call": "count", "executor_cpu_s": "s",
               "shuffle_mb": "MB", "planning_ms": "ms",
               "driver_wait_frac": "ratio", "max_task_over_median": "ratio",
               "files_listed": "count", "bytes_written_mb": "MB"}
OVERHEAD = "tracing.overhead_pct"


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (percentile, value), or None when there are too few samples."""
    n = len(samples)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, sorted(samples)[n - beyond - 1]


def union_length(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover.
    A span is [id, parent, name, start, end, ...]."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[3], s[4]))
    return {s[0]: (s[4] - s[3]) - union_length(children.get(s[0], []), s[3], s[4])
            for s in spans}


def innermost(spans, t_us):
    """Id of the innermost span open at time t_us, or None."""
    best = None
    for s in spans:
        if s[3] <= t_us <= s[4] and (best is None or s[3] >= best[3]):
            best = s
    return None if best is None else best[0]


def layer_table(trace):
    """Per span name: calls and every per-layer metric, from the raw
    trace a run records (spans, jobs, tasks and planning phases)."""
    spans = trace["spans"]
    by_id = {s[0]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s[0])

    def subtree(i):
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo += kids.get(j, [])
        return out

    jobs, tasks, plan = {}, {}, {}
    for span_id, _ in trace["jobs"]:
        jobs[span_id] = jobs.get(span_id, 0) + 1
    for t in trace["tasks"]:
        tasks.setdefault(t[0], []).append(t)
    for _, start_ms, end_ms in trace["phases"]:
        i = innermost(spans, start_ms * 1000)
        if i is not None:
            plan[i] = plan.get(i, 0) + (end_ms - start_ms)
    selfs = self_times(spans)
    calls = {}
    for s in spans:
        ids = subtree(s[0])
        ts = [t for i in ids for t in tasks.get(i, [])]
        dur_ms = (s[4] - s[3]) / 1000.0
        busy_ms = union_length([(t[1], t[2]) for t in ts], s[3] / 1000.0,
                               s[4] / 1000.0)
        task_ms = [t[2] - t[1] for t in ts]
        calls.setdefault(s[2], []).append({
            "ms": dur_ms, "self_ms": selfs[s[0]] / 1000.0,
            "jobs": sum(jobs.get(i, 0) for i in ids), "tasks": len(ts),
            "cpu_s": sum(t[3] for t in ts) / 1e9,
            "shuffle_mb": sum(t[4] for t in ts) / 1e6,
            "planning_ms": sum(plan.get(i, 0) for i in ids),
            "wait": 1.0 - busy_ms / dur_ms if dur_ms > 0 else 0.0,
            "skew": (max(task_ms) / max(statistics.median(task_ms), 1.0)
                     if len(task_ms) >= 2 else None),
            "rows": sum(t[6] for t in ts),
            "written_mb": sum(t[7] for t in ts) / 1e6,
            "files": sum(by_id[i][5] for i in ids),
            "results": s[6]})
    table = {}
    for name, cs in calls.items():
        n = len(cs)
        skews = [c["skew"] for c in cs if c["skew"] is not None]
        table[name] = {
            "calls": n,
            "p50_ms": statistics.median(c["ms"] for c in cs),
            "self_p50_ms": statistics.median(c["self_ms"] for c in cs),
            "jobs_per_call": sum(c["jobs"] for c in cs) / n,
            "tasks_per_call": sum(c["tasks"] for c in cs) / n,
            "executor_cpu_s": sum(c["cpu_s"] for c in cs) / n,
            "shuffle_mb": sum(c["shuffle_mb"] for c in cs) / n,
            "planning_ms": sum(c["planning_ms"] for c in cs) / n,
            "driver_wait_frac": statistics.median(c["wait"] for c in cs),
            "max_task_over_median": statistics.median(skews) if skews else 0.0,
            "rows_read_per_result": (sum(c["rows"] for c in cs) /
                                     sum(max(c["results"], 1) for c in cs)),
            "files_listed": sum(c["files"] for c in cs) / n,
            "bytes_written_mb": sum(c["written_mb"] for c in cs) / n,
        }
    return table


def overhead_pct(timed):
    """Tracing overhead from (kind, ms, traced) operation timings: per
    kind, the median traced time over the median untraced time, minus
    one; averaged over the kinds that have both, in percent."""
    ratios = []
    for kind in sorted({k for k, _, _ in timed}):
        on = [ms for k, ms, tr in timed if k == kind and tr]
        off = [ms for k, ms, tr in timed if k == kind and not tr]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off) - 1.0)
    return 100.0 * sum(ratios) / len(ratios) if ratios else 0.0


def per_layer_metrics(table, overhead):
    """The per_layer metrics of BENCHMARK.json, zero for a span the
    workload never calls."""
    out = {}
    for span, names in LAYER_METRICS.items():
        row = table.get(span, {})
        for m in names:
            out["%s.%s" % (span, m)] = (row.get(m, 0.0), LAYER_UNITS[m])
    out[OVERHEAD] = (overhead, "%")
    return out


def result_line(correct, attempted, failed, metrics):
    """The last stdout line: metrics maps name -> (value, unit)."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, sort_keys=False)


def fmt(v):
    if isinstance(v, float):
        if v == 0 or math.isfinite(v) and abs(v) >= 0.01:
            return "%.4g" % v
        return "%.3g" % v
    return str(v)


def summary_lines(named):
    """Human-readable `name value unit` lines, in the given order."""
    return ["%-44s %12s %s" % (k, fmt(v), u) for k, (v, u) in named.items()]
