"""Spark event-log reader and span arithmetic for the traced run.

Each Spark job is attributed to a repo module when the call site Spark
recorded for it (``callSite.short``, e.g. ``collect at .../operators/
traversal.py:412``) names a file of the engine package; otherwise to the job
group, which the benchmark sets to the id of the span open around each public
call.  Jobs triggered by a ``DataFrameWriter`` carry no call site, so writes
fall back to their span.
"""
from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

PACKAGE = "climatemind_ontology_processing_spark"
_SITE = re.compile(PACKAGE + r"/(.+?)\.py:\d+")

# task SQL metrics of the Arrow/Python operators (PythonSQLMetrics), in
# milliseconds for the times and bytes for the sizes
PYTHON_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_total_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_MS = ("python_boot_s", "python_init_s", "python_total_s")


@dataclass
class JobStats:
    job_id: int
    group: str | None
    call_site: str | None
    module: str | None
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    input_records_by_stage: dict[int, int] = field(default_factory=dict)
    python: dict[str, float] = field(default_factory=dict)


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def module_of(call_site: str | None) -> str | None:
    """``operators.traversal`` for a call site inside the engine package."""
    m = _SITE.search(call_site or "")
    return m.group(1).replace("/", ".") if m else None


def jobs(events: list[dict]) -> dict[int, JobStats]:
    """Per-job totals over the stages each job actually ran."""
    out: dict[int, JobStats] = {}
    job_stages: dict[int, set[int]] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            site = props.get("callSite.short")
            jid = e["Job ID"]
            out[jid] = JobStats(jid, props.get("spark.jobGroup.id"), site,
                                module_of(site))
            job_stages[jid] = set(e["Stage IDs"])
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            owners = [j for j, s in job_stages.items() if sid in s]
            if owners:
                stage_job[sid] = max(owners)
                out[max(owners)].stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = out.get(stage_job.get(e["Stage ID"], -1))
            if job is None:
                continue
            _add_task(job, e)
    return out


def _add_task(job: JobStats, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    job.tasks += 1
    job.task_s += m.get("Executor Run Time", 0) / 1000
    job.gc_s += m.get("JVM GC Time", 0) / 1000
    rd = m.get("Shuffle Read Metrics", {})
    job.shuffle_read_bytes += (rd.get("Remote Bytes Read", 0)
                               + rd.get("Local Bytes Read", 0))
    job.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0)
    job.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0))
    inp = m.get("Input Metrics", {})
    job.input_bytes += inp.get("Bytes Read", 0)
    sid = e["Stage ID"]
    job.input_records_by_stage[sid] = (job.input_records_by_stage.get(sid, 0)
                                       + inp.get("Records Read", 0))
    job.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is None or acc.get("Update") is None:
            continue
        val = float(acc["Update"])
        job.python[key] = job.python.get(key, 0.0) + (val / 1000 if key in _MS
                                                      else val)


def layer(job: JobStats, span_names: dict[str, str]) -> str:
    """Call-site module first, else the name of the span that set the group."""
    return job.module or span_names.get(job.group or "", "unattributed")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its child spans cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def totals(js: list[JobStats]) -> dict[str, float]:
    """Sum of the per-job counters over ``js``."""
    t = {"jobs": len(js), "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
         "input_bytes": 0, "output_bytes": 0}
    t.update({k: 0.0 for k in PYTHON_METRICS.values()})
    for j in js:
        for k in ("stages", "tasks", "task_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "input_bytes",
                  "output_bytes"):
            t[k] += getattr(j, k)
        for k, v in j.python.items():
            t[k] += v
    return t
