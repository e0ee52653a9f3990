#!/usr/bin/env python3
"""spark-kg benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Run from the repository root.  The inputs are generated from ``--seed`` into
``perfbench/_work`` before the measured process starts; the measured process
(``worker.py``) is a separate Python process with its own JVM and reads only
those files.  After it exits, the outputs it wrote are checked here, and the
last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``
(which runs the untraced measurement first, then a traced one, and reports
the difference in ``trace.overhead_s``).  See NOTES.md.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "climatemind_ontology_processing_spark"

CPUS = 3                 # local[3]: leaves a core for the driver and the host
DRIVER_MEM = "2g"
EXTRACT_PAGES = 20_000
GRAPH_COPIES = 10        # golden graph + 10 disjoint copies
WORKER_TIMEOUT_S = 150

END_TO_END = {
    "job_s": "s", "triples_per_s": "triples/s",
    "triple_precision": "ratio", "triple_recall": "ratio",
    "correct_ratio": "ratio", "peak_rss_mb": "MB", "setup_s": "s",
}


def _env(work: str) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "CMKG_", "PYSPARK_"))}
    tmp = os.path.join(work, "tmp")
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def launch(workload: str, work: str, seconds: int, trace: bool) -> dict:
    """Run worker.py to completion; return its result plus the spawn time."""
    mode = "traced" if trace else "plain"
    out = os.path.join(work, f"out-{mode}")
    for d in (out, os.path.join(work, "tmp"), os.path.join(work, "spark-local"),
              os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(work, f"result-{mode}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--inputs", os.path.join(work, "inputs"),
           "--out", out, "--seconds", str(seconds), "--trace", str(int(trace)),
           "--eventlog", os.path.join(work, "eventlog"), "--result", result_path]
    log_path = os.path.join(work, f"worker-{mode}.log")
    spawned = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=_env(work), stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the JVM and its Python workers share the worker's group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            deadline = time.time() + 20
            while _group_alive(proc.pid) and time.time() < deadline:
                time.sleep(0.1)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"measured process ({mode}) "
                           f"{'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(result_path) as f:
        res = json.load(f)
    res["setup_s"] = res["first_timed_wall"] - spawned
    res["out"] = out
    return res


def check(workload: str, res: dict, meta: dict):
    import checks
    gate = checks.Gate()
    failed = 0
    for it in res["iterations"]:
        d = os.path.join(res["out"], it["tag"])
        if workload == "extract":
            ok = checks.extract_iteration(gate, d, meta)
        else:
            ok = checks.graph_iteration(gate, d, meta, it["mitigation_ranked"])
        failed += not ok
    if "raw_triples" in res:
        gate.check(res["raw_triples"] == meta["raw_triples"],
                   "raw cue-triple count")
    return gate, failed


def end_to_end(workload: str, res: dict, meta: dict, gate) -> dict:
    its = res["iterations"]
    job_s = statistics.median(it["wall_s"] for it in its)
    # the generator's raw count; the traced run checks the engine's against it
    work_items = meta["raw_triples"] if workload == "extract" else meta["n_edges"]
    return {
        "job_s": job_s,
        "triples_per_s": work_items / job_s,
        "triple_precision": gate.true_pos / gate.written if gate.written else 0.0,
        "triple_recall": gate.true_pos / gate.expected if gate.expected else 0.0,
        "correct_ratio": gate.passed / gate.attempted,
        "peak_rss_mb": res["peak_rss_mb"],
        "setup_s": res["setup_s"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("extract", "graph"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: engine package {PACKAGE}/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import inputs
    import procstat

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    baseline_path = os.path.join(HERE, "_work", f"untraced-{args.workload}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "inputs"))
    try:
        t0 = time.perf_counter()
        if args.workload == "extract":
            meta = inputs.write_pages(os.path.join(work, "inputs"), args.seed,
                                      EXTRACT_PAGES)
        else:
            meta = inputs.write_graph(os.path.join(work, "inputs"), args.seed,
                                      GRAPH_COPIES)
        gen_s = time.perf_counter() - t0
        host0 = procstat.host()
        if args.trace and not os.path.exists(baseline_path):
            # the overhead needs an untraced job_s of this checkout
            _save_baseline(baseline_path, launch(args.workload, work, args.seconds, False))
        res = launch(args.workload, work, args.seconds, bool(args.trace))
        host1 = procstat.host()
        host = {"loadavg_1m": host1["loadavg_1m"],
                "steal_s": host1["steal_s"] - host0["steal_s"]}
        gate, failed = check(args.workload, res, meta)

        print(f"# host: loadavg_1m start {host0['loadavg_1m']} end "
              f"{host['loadavg_1m']}, steal {host['steal_s']:.2f} s; inputs "
              f"generated in {gen_s:.2f} s")
        print(f"# setup: session {res['session_s']:.2f} s, warm-ups (s) "
              + " ".join(f"{w:.2f}" for w in res["warmup_s"]))
        print("# iterations (s): " + " ".join(
            f"{it['wall_s']:.3f}" for it in res["iterations"])
              + "; process-tree CPU (core-s): " + " ".join(
            f"{it['cpu_s']:.2f}" for it in res["iterations"])
              + "; host steal (s): " + " ".join(
            f"{it['host_steal_s']:.2f}" for it in res["iterations"]))
        if args.trace:
            import eventlog
            import layers
            with open(baseline_path) as f:
                untraced_job_s = json.load(f)["job_s"]
            logs = os.listdir(os.path.join(work, "eventlog"))
            events = eventlog.read_events(os.path.join(work, "eventlog", logs[0]))
            distinct = gate.written // len(res["iterations"])
            metrics, table = layers.compute(res, events, meta.get("n_pages", 0),
                                            distinct, untraced_job_s, host)
            units = layers.PER_LAYER
            _print_table(table)
            keep = os.path.join(HERE, "_work", f"trace-{args.workload}-{args.seed}.json")
            with open(keep, "w") as f:
                json.dump({"metrics": metrics, "layers": table,
                           "spans": res["spans"]}, f, indent=1)
            print(f"# layer table and spans written to {os.path.relpath(keep, ROOT)}")
        else:
            metrics = end_to_end(args.workload, res, meta, gate)
            units = END_TO_END
            _save_baseline(baseline_path, res)
        if gate.failures:
            print("# failed checks: " + "; ".join(gate.failures[:10]))
        print(json.dumps({
            "correct": not gate.failures and failed == 0,
            "attempted": len(res["iterations"]), "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _save_baseline(path: str, res: dict) -> None:
    with open(path, "w") as f:
        json.dump({"job_s": statistics.median(it["wall_s"] for it in res["iterations"])}, f)


def _print_table(table: list[dict]) -> None:
    print("# span / layer                                   jobs stages tasks   task_s  shuffle_w_MB")
    for r in sorted(table, key=lambda r: (r["span"], r["layer"])):
        if r["layer"] == "(span)":
            print(f"# {r['span']:<46} wall {r['wall_s']:.3f} s, self {r['self_s']:.3f} s (median)")
        else:
            print(f"# {r['span'] + ' / ' + r['layer']:<46} {r['jobs']:>4} {r['stages']:>6} "
                  f"{r['tasks']:>5} {r['task_s']:>8.2f} {r['shuffle_write_bytes'] / 1e6:>12.2f}")


if __name__ == "__main__":
    sys.exit(main())
