"""Metrics from a harness result: end-to-end (untraced runs) and per layer
(traced runs), plus the report printed before the final JSON line."""
import json
import statistics

import workloads

CORES = 4

# the metrics the final JSON line carries; BENCHMARK.json lists the same
END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
    "heap_peak_mb": "MB",
}

PER_LAYER = {
    "engine.build_ms": "ms", "engine.build_jobs": "count", "engine.flow_parse_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.codegen_compiles": "count",
    "catalyst.codegen_compile_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.driver_gap_ms": "ms",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "executor.blocked_ms": "ms", "executor.busy_frac": "frac",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "shuffle.skew": "ratio",
    "sources.input_bytes": "bytes", "sources.input_records": "count",
    "sinks.write_ms": "ms", "sinks.output_bytes": "bytes", "sinks.output_records": "count",
    "streaming.triggers": "count", "streaming.empty_trigger_frac": "frac",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms", "streaming.leaked_tables": "count",
    "hygiene.persisted_rdds": "count",
    "span.build_self_ms": "ms", "span.action_self_ms": "ms", "span.job_self_ms": "ms",
    "trace.overhead_frac": "frac",
}
PER_QUERY = workloads.CORPUS_TEXT + workloads.STREAM_REPLAY
PER_LAYER.update({f"q.{q}_s": "s" for q in PER_QUERY})


# ------------------------------------------------------------ span algebra

def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = parent
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def owner(spans, t, slack=1.0):
    """Index of the span whose [start - slack, end + slack] holds time t.
    Spans are disjoint and sorted by start (one client, one task at a time)."""
    lo, hi = 0, len(spans) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        s, e = spans[mid]
        if t < s - slack:
            hi = mid - 1
        elif t > e + slack:
            lo = mid + 1
        else:
            return mid
    return None


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q
    i = int(k)
    return xs[i] + (xs[min(i + 1, len(xs) - 1)] - xs[i]) * (k - i)


# ------------------------------------------------------------ compute

def errors(plan, result, checks):
    """(attempted, failed, problems): failed queries plus wrong results."""
    problems = {k: v for k, v in checks.items() if v}
    samples = result["samples"]
    for s in samples:
        if not s["ok"]:
            problems[f"{s['task']}@pass{s['pass']}"] = "failed: " + s["error"]
    attempted = len(plan["tasks"]) + len(samples)
    return attempted, len(problems), problems


def end_to_end(w, inputs, result, setup_s):
    ok = [s for s in result["samples"] if s["ok"] and not s["traced"]]
    lat = [(s["build_ms"] + s["action_ms"]) / 1000.0 for s in ok]
    passes = [p for p in result["passes"] if not p["traced"]]
    busy_s = sum(p["end_ms"] - p["start_ms"] for p in passes) / 1000.0
    m = {
        "setup_s": setup_s,
        "query_p50_s": statistics.median(lat) if lat else 0.0,
        "queries_per_s": len(ok) / busy_s if busy_s else 0.0,
        "heap_peak_mb": max((p["heap_live_mb"] for p in result["passes"]), default=0.0),
    }
    extra = {"samples": len(lat), "passes": len(passes)}
    # the 90th percentile is reported only with >= 10 samples beyond it
    if len(lat) >= 100:
        extra["query_p90_s"] = quantile(lat, 0.9)
    # documents (text queries) and input rows (flows) processed per second
    # of those tasks' own time; each reads its whole input once
    items = {}
    for s, t in zip(ok, lat):
        tp = w.throughput(inputs, s["task"])
        if tp:
            n, secs = items.get(tp[0], (0, 0.0))
            items[tp[0]] = (n + tp[1], secs + t)
    for unit, (n, secs) in sorted(items.items()):
        extra[f"{unit}_per_s"] = n / secs
    trig = timed_triggers(result)
    if trig:
        t = [x["durations"].get("triggerExecution", 0) for x in trig]
        extra["trigger_p50_ms"] = quantile(t, 0.5)
        extra["trigger_p90_ms"] = quantile(t, 0.9)
        extra["trigger_samples"] = len(t)
    return m, extra


def timed_triggers(result):
    return [t for t in result.get("triggers", [])
            if result["measure_start_ms"] - 1 <= t["start_ms"] <= result["measure_end_ms"]]


def per_layer(result):
    tr = result["trace"]
    samples = sorted((s for s in result["samples"] if s["traced"]), key=lambda s: s["start_ms"])
    n = max(len(samples), 1)
    spans = [(s["start_ms"], s["start_ms"] + s["build_ms"] + s["action_ms"]) for s in samples]
    builds = [(s["start_ms"], s["start_ms"] + s["build_ms"]) for s in samples]

    windows = [(w["start_ms"], w["end_ms"]) for w in tr["windows"]]

    def attribute(records):
        """Records per traced sample. Records that start outside the traced
        windows (the marker job that drains the listener bus) are dropped."""
        per = [[] for _ in samples]
        for r in records:
            i = owner(spans, r["start_ms"])
            if i is not None and owner(windows, r["start_ms"], slack=0) is not None:
                per[i].append(r)
        return per

    jobs = [j for j in tr["jobs"] if "end_ms" in j]
    stages = [s for s in tr["stages"] if s.get("end_ms", 0) > 0]
    jobs_by = attribute(jobs)
    stages_by = attribute(stages)
    plans_by = attribute([p for p in tr["plans"] if p["start_ms"] > 0])

    def total(key, per=stages_by):
        return sum(r[key] for rs in per for r in rs)

    build_jobs = sum(1 for i, js in enumerate(jobs_by) for j in js
                     if builds[i][0] - 1 <= j["start_ms"] <= builds[i][1])
    gap = build_self = action_self = job_self = 0.0
    for i, s in enumerate(samples):
        st = [(x["start_ms"], x["end_ms"]) for x in stages_by[i]]
        js = [(x["start_ms"], x["end_ms"]) for x in jobs_by[i]]
        gap += self_time(spans[i], st)
        build_self += self_time(builds[i], js)
        action_self += self_time((builds[i][1], spans[i][1]), js)
        for x in jobs_by[i]:
            job_self += self_time((x["start_ms"], x["end_ms"]), st)
    wall = sum(e - s for s, e in spans)
    run_ms = total("run_ms")
    cpu_ms = total("cpu_ms")
    skews = [st["max_task_read_bytes"] / (st["shuffle_read_bytes"] / st["tasks"])
             for rs in stages_by for st in rs if st["shuffle_read_bytes"] > 0 and st["tasks"]]
    flows = [s for s in samples if s["task"] in workloads.FLOWS]
    trig = timed_triggers(result)
    nt = max(len(trig), 1)

    def tmean(k):
        return sum(t["durations"].get(k, 0) for t in trig) / nt

    parse_ms = [x for p in result["passes"] for x in p.get("parse_ms", [])]
    traced_p = [p["end_ms"] - p["start_ms"] for p in result["passes"] if p["traced"]]
    plain_p = [p["end_ms"] - p["start_ms"] for p in result["passes"] if not p["traced"]]
    m = {
        "engine.build_ms": sum(s["build_ms"] for s in samples) / n,
        "engine.build_jobs": build_jobs / n,
        "engine.flow_parse_ms": statistics.mean(parse_ms) if parse_ms else 0.0,
        "catalyst.analysis_ms": total("analysis_ms", plans_by) / n,
        "catalyst.optimization_ms": total("optimization_ms", plans_by) / n,
        "catalyst.planning_ms": total("planning_ms", plans_by) / n,
        "catalyst.codegen_compiles": sum(s["codegen_compiles"] for s in samples) / n,
        "catalyst.codegen_compile_ms": sum(s["codegen_ms"] for s in samples) / n,
        "scheduler.jobs": sum(map(len, jobs_by)) / n,
        "scheduler.stages": sum(map(len, stages_by)) / n,
        "scheduler.tasks": total("tasks") / n,
        "scheduler.driver_gap_ms": gap / n,
        "executor.run_ms": run_ms / n,
        "executor.cpu_ms": cpu_ms / n,
        "executor.gc_ms": total("gc_ms") / n,
        "executor.blocked_ms": (run_ms - cpu_ms) / n,
        "executor.busy_frac": run_ms / (wall * CORES) if wall else 0.0,
        "shuffle.read_bytes": total("shuffle_read_bytes") / n,
        "shuffle.write_bytes": total("shuffle_write_bytes") / n,
        "shuffle.fetch_wait_ms": total("fetch_wait_ms") / n,
        "shuffle.skew": statistics.mean(skews) if skews else 0.0,
        "sources.input_bytes": total("input_bytes") / n,
        "sources.input_records": total("input_records") / n,
        "sinks.write_ms": (sum(s["action_ms"] for s in flows) / len(flows)) if flows else 0.0,
        "sinks.output_bytes": total("output_bytes") / n,
        "sinks.output_records": total("output_records") / n,
        "streaming.triggers": len(trig) / max(len(result["passes"]), 1),
        "streaming.empty_trigger_frac": sum(1 for t in trig if t["input_rows"] == 0) / nt,
        "streaming.add_batch_ms": tmean("addBatch"),
        "streaming.query_planning_ms": tmean("queryPlanning"),
        "streaming.wal_commit_ms": tmean("walCommit"),
        "streaming.commit_offsets_ms": tmean("commitOffsets"),
        "streaming.state_rows": sum(t["state_rows"] for t in trig) / nt,
        "streaming.state_memory_bytes": sum(t["state_memory_bytes"] for t in trig) / nt,
        "streaming.state_commit_ms": sum(t["state_commit_ms"] for t in trig) / nt,
        "streaming.leaked_tables": max((p["temp_views"] for p in result["passes"]), default=0),
        "hygiene.persisted_rdds": max((p["persisted_rdds"] for p in result["passes"]), default=0),
        "span.build_self_ms": build_self / n,
        "span.action_self_ms": action_self / n,
        "span.job_self_ms": job_self / n,
        "trace.overhead_frac": (statistics.median(traced_p) / statistics.median(plain_p) - 1)
        if traced_p and plain_p else 0.0,
    }
    plain = [s for s in result["samples"] if not s["traced"] and s["ok"]]
    for q in PER_QUERY:
        xs = [(s["build_ms"] + s["action_ms"]) / 1000.0 for s in plain if s["task"] == q]
        m[f"q.{q}_s"] = statistics.median(xs) if xs else 0.0
    extra = {"traced_samples": len(samples), "traced_passes": len(traced_p),
             "untraced_passes": len(plain_p)}
    return m, extra


def compute(w, plan, inputs, result, checks, setup_s, trace):
    attempted, failed, problems = errors(plan, result, checks)
    e2e, e2e_extra = end_to_end(w, inputs, result, setup_s)
    report = {
        "workload": w.name,
        "attempted": attempted, "failed": failed, "correct": failed == 0,
        "error_rate": failed / attempted,
        "problems": problems,
        "end_to_end": e2e, "end_to_end_extra": e2e_extra,
        "inputs": inputs["files"], "input_rows": inputs["rows"],
        "hygiene": [{k: p[k] for k in ("pass", "traced", "temp_views", "persisted_rdds",
                                       "heap_live_mb")} for p in result["passes"]],
    }
    if trace:
        report["per_layer"], report["per_layer_extra"] = per_layer(result)
    return report


UNITS = dict(END_TO_END, **PER_LAYER, query_p90_s="s", docs_per_s="1/s", rows_per_s="1/s",
             trigger_p50_ms="ms", trigger_p90_ms="ms", error_rate="frac")


def print_report(report, args):
    print(f"workload {report['workload']}  seed {args.seed}  trace {args.trace}")
    print(f"inputs: " + ", ".join(f"{k} {v} rows" for k, v in report["input_rows"].items()))
    for k, v in report["inputs"].items():
        print(f"  {k}: {v['bytes']} bytes")
    for k, v in report["problems"].items():
        print(f"WRONG {k}: {v}")
    print(f"error_rate {report['error_rate']:.6f} frac "
          f"({report['failed']} of {report['attempted']} attempted)")
    for section in ("end_to_end", "end_to_end_extra", "per_layer", "per_layer_extra"):
        for k, v in report.get(section, {}).items():
            print(f"{k} {v:.6g} {UNITS.get(k, '')}".rstrip())
    for h in report["hygiene"]:
        print("hygiene " + json.dumps(h))
    names = PER_LAYER if args.trace else END_TO_END
    src = report["per_layer"] if args.trace else report["end_to_end"]
    final = {"correct": report["correct"], "attempted": report["attempted"],
             "failed": report["failed"],
             "metrics": {k: {"value": src[k], "unit": names[k]} for k in names}}
    print(json.dumps(final))
