"""Per-layer metrics of the traced run, from its spans and Spark's event log.

Every metric is computed per timed iteration and reported as the median over
iterations, except the process-wide ones (session start, Python worker boot
and init, host load), which are taken once per run.  A layer that a workload
does not run reports 0.
"""
from __future__ import annotations

import statistics

import eventlog

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.bytes_read": "B",
    "functions.extract_s": "s",
    "functions.python_cpu_s": "core-s",
    "functions.python_total_s": "s",
    "functions.bytes_to_python": "B",
    "functions.bytes_from_python": "B",
    "functions.raw_triples": "count",
    "functions.python_boot_s": "s",
    "functions.python_init_s": "s",
    "operators.dedup.self_s": "s",
    "operators.dedup.shuffle_bytes": "B",
    "operators.dedup.distinct_ratio": "ratio",
    "plans.lineage.self_s": "s",
    "plans.lineage.jobs": "count",
    "plans.lineage.input_scans": "count",
    "plans.lineage.bytes_written": "B",
    "operators.graph_pipeline.build_s": "s",
    "operators.graph_pipeline.materialize_s": "s",
    "operators.graph_pipeline.jobs": "count",
    "operators.graph_pipeline.stages": "count",
    "operators.graph_pipeline.tasks": "count",
    "operators.graph_pipeline.shuffle_bytes": "B",
    "operators.traversal.jobs": "count",
    "operators.traversal.task_s": "s",
    "process.cpu_s": "core-s",
    "jvm.gc_s": "s",
    "jvm.cpu_s": "core-s",
    "host.loadavg_1m": "load",
    "host.steal_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def compute(result: dict, events: list[dict], n_pages: int,
            distinct_triples: int, untraced_job_s: float, host: dict) -> tuple[dict, list]:
    """(metrics by PER_LAYER name, layer table rows) for one traced run."""
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    jobs = list(eventlog.jobs(events).values())
    span_of_job = {}
    for j in jobs:
        if j.group and j.group.startswith("span-") and j.group[5:].isdigit():
            span_of_job[j.job_id] = int(j.group[5:])

    def jobs_in(ids: set[int]) -> list:
        return [j for j in jobs if span_of_job.get(j.job_id) in ids]

    def dur(s: dict | None) -> float:
        return s["end"] - s["start"] if s else 0.0

    per_iter: list[dict] = []
    for it in result["iterations"]:
        k = int(it["tag"][2:])
        named = {s["name"]: s for s in spans if s["iteration"] == k}
        m = {}
        scan, ext = named.get("sources.scan"), named.get("functions.extract")
        ded, lin = named.get("operators.dedup"), named.get("plans.lineage")
        build = named.get("operators.graph_pipeline.build")
        mat = named.get("operators.graph_pipeline.materialize")
        m["sources.scan_s"] = dur(scan)
        m["functions.extract_s"] = dur(ext) - dur(scan) if ext else 0.0
        m["operators.dedup.self_s"] = dur(ded) - dur(ext) if ded else 0.0
        m["plans.lineage.self_s"] = dur(lin) - dur(ded) if lin else 0.0
        m["sources.bytes_read"] = (eventlog.totals(jobs_in({scan["id"]}))["input_bytes"]
                                   if scan else 0)
        if ext:
            t = eventlog.totals(jobs_in({ext["id"]}))
            m["functions.python_cpu_s"] = ext["cpu"]["python"]
            m["functions.python_total_s"] = t["python_total_s"]
            m["functions.bytes_to_python"] = t["bytes_to_python"]
            m["functions.bytes_from_python"] = t["bytes_from_python"]
        if ded:
            m["operators.dedup.shuffle_bytes"] = eventlog.totals(
                jobs_in({ded["id"]}))["shuffle_write_bytes"]
        if lin:
            lj = jobs_in({lin["id"]})
            m["plans.lineage.jobs"] = len(lj)
            m["plans.lineage.input_scans"] = sum(
                1 for j in lj for n in j.input_records_by_stage.values()
                if n == n_pages)
            m["plans.lineage.bytes_written"] = eventlog.totals(lj)["output_bytes"]
            m["trace.job_s"] = dur(lin)
        if build:
            gj = jobs_in({build["id"], mat["id"]})
            t = eventlog.totals(gj)
            m["operators.graph_pipeline.build_s"] = dur(build)
            m["operators.graph_pipeline.materialize_s"] = dur(mat)
            m["operators.graph_pipeline.jobs"] = t["jobs"]
            m["operators.graph_pipeline.stages"] = t["stages"]
            m["operators.graph_pipeline.tasks"] = t["tasks"]
            m["operators.graph_pipeline.shuffle_bytes"] = t["shuffle_write_bytes"]
            tj = [j for j in gj if j.module == "operators.traversal"]
            m["operators.traversal.jobs"] = len(tj)
            m["operators.traversal.task_s"] = eventlog.totals(tj)["task_s"]
            m["trace.job_s"] = dur(build) + dur(mat)
        job_spans = [s for s in (lin, build, mat) if s]
        m["jvm.gc_s"] = sum(s["gc_s"] for s in job_spans)
        m["jvm.cpu_s"] = sum(s["cpu"]["jvm"] for s in job_spans)
        m["process.cpu_s"] = sum(sum(s["cpu"].values()) for s in job_spans)
        per_iter.append(m)

    metrics = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        vals = [m[name] for m in per_iter if name in m]
        if vals:
            metrics[name] = statistics.median(vals)
    whole = eventlog.totals(jobs)
    metrics["functions.python_boot_s"] = whole["python_boot_s"]
    metrics["functions.python_init_s"] = whole["python_init_s"]
    metrics["session.start_s"] = dur(next(
        (s for s in spans if s["name"] == "session.start"), None))
    raw = result.get("raw_triples", 0)
    metrics["functions.raw_triples"] = raw
    metrics["operators.dedup.distinct_ratio"] = distinct_triples / raw if raw else 0.0
    metrics["host.loadavg_1m"] = host["loadavg_1m"]
    metrics["host.steal_s"] = host["steal_s"]
    metrics["trace.overhead_s"] = metrics["trace.job_s"] - untraced_job_s
    return metrics, layer_table(spans, jobs, span_of_job, by_id)


def layer_table(spans, jobs, span_of_job, by_id) -> list[dict]:
    """Jobs of the timed iterations grouped by (span, layer), where the layer
    is the call-site module or, failing that, the span itself."""
    self_s = eventlog.self_times(spans)
    span_names = {f"span-{s['id']}": s["name"] for s in spans}
    rows: dict[tuple[str, str], dict] = {}
    for j in jobs:
        sid = span_of_job.get(j.job_id)
        if sid is None or by_id[sid]["iteration"] is None:
            continue
        key = (by_id[sid]["name"], eventlog.layer(j, span_names))
        r = rows.setdefault(key, {"span": key[0], "layer": key[1], "jobs": []})
        r["jobs"].append(j)
    out = []
    for r in rows.values():
        t = eventlog.totals(r.pop("jobs"))
        out.append({**r, **t})
    timed = [s for s in spans if s["iteration"] is not None]
    for name in sorted({s["name"] for s in timed}):
        durations = [s["end"] - s["start"] for s in timed if s["name"] == name]
        selfs = [self_s[s["id"]] for s in timed if s["name"] == name]
        out.append({"span": name, "layer": "(span)", "jobs": 0,
                    "wall_s": statistics.median(durations),
                    "self_s": statistics.median(selfs)})
    return out
