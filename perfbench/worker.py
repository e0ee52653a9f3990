"""The measured process: one Spark session, one warm-up, timed iterations.

``run.py`` writes the inputs, then starts this file as a separate process and
reads the JSON result it writes.  Everything here goes through the engine's
public entry points; with ``--trace 1`` every call is wrapped in a span that
also names the Spark job group, and Spark's event log is on.
"""
from __future__ import annotations

import argparse
import json
import os
import time
from contextlib import contextmanager

import procstat

# a traced iteration also runs the layer-split calls; two keep a traced run,
# plus the untraced run it may need for its overhead, under three minutes
MIN_ITERATIONS = {False: 3, True: 2}
SHUFFLE_PARTITIONS = 8
N_BUCKETS = 64


class Tracer:
    """Spans kept in memory and written with the result.

    Disabled, ``span`` only runs its body, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.sc = None

    def _group(self, sid: int | None) -> None:
        if self.sc is not None:
            name = self.spans[sid]["name"] if sid is not None else "none"
            self.sc.setJobGroup(f"span-{sid}", name)

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "iteration": iteration,
               "parent": self._open[-1] if self._open else None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        self._group(rec["id"])
        cpu0 = procstat.sample(os.getpid())
        gc0 = jvm_gc_s(self.sc) if self.sc else 0.0
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            d = procstat.sample(os.getpid()).minus(cpu0)
            rec["cpu"] = {"driver": d.driver_cpu_s, "jvm": d.jvm_cpu_s,
                          "python": d.python_cpu_s}
            rec["gc_s"] = jvm_gc_s(self.sc) - gc0 if self.sc else 0.0
            self._open.pop()
            self._group(self._open[-1] if self._open else None)


def jvm_gc_s(sc) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = (sc._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(b.getCollectionTime() for b in beans) / 1000


class Extract:
    """Front half of ``bin/run_pipeline.py``: bucketed, resumable extraction."""

    def __init__(self, spark, inputs: str, out: str, tracer: Tracer):
        from climatemind_ontology_processing_spark.sources.dictionary import alias_map
        self.spark, self.out, self.tracer = spark, out, tracer
        self.pages = spark.read.parquet(os.path.join(inputs, "pages"))
        self.aliases = alias_map()

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def iteration(self, tag: str, k: int | None) -> dict:
        from climatemind_ontology_processing_spark.functions.triples import (
            extract_triples_from_html)
        from climatemind_ontology_processing_spark.plans.lineage import run_bucketed
        from climatemind_ontology_processing_spark.plans.pipeline import (
            triples_from_pages)

        t = self.tracer
        if t.enabled and k is not None:
            # layer split by difference: each call does the previous call's
            # work plus one more layer (see NOTES.md, "Reading the layers")
            with t.span("sources.scan", k):
                self._noop(self.pages)
            with t.span("functions.extract", k):
                self._noop(extract_triples_from_html(self.pages, self.aliases))
            with t.span("operators.dedup", k):
                self._noop(triples_from_pages(self.pages, self.aliases))
        out = os.path.join(self.out, tag)
        t0 = time.perf_counter()
        with t.span("plans.lineage", k):
            run_bucketed(self.pages, os.path.join(out, "triples"),
                         os.path.join(out, "lineage"), run_id=f"bench-{tag}",
                         n_buckets=N_BUCKETS)
        return {"tag": tag, "wall_s": time.perf_counter() - t0}

    def after(self) -> dict:
        """The raw (pre-dedup) extraction count, for the traced run's
        ``functions.raw_triples``; an extra job the untraced run skips."""
        if not self.tracer.enabled:
            return {}
        from climatemind_ontology_processing_spark.functions.triples import (
            extract_triples_from_html)
        return {"raw_triples":
                extract_triples_from_html(self.pages, self.aliases).count()}


class Graph:
    """Back half of ``bin/run_pipeline.py``: build_graph, then the writes."""

    def __init__(self, spark, inputs: str, out: str, tracer: Tracer):
        from climatemind_ontology_processing_spark.sources.dictionary import concepts_df
        self.spark, self.out, self.tracer = spark, out, tracer
        self.triples = spark.read.parquet(os.path.join(inputs, "edges"))
        self.concepts = concepts_df(spark)

    def iteration(self, tag: str, k: int | None) -> dict:
        from climatemind_ontology_processing_spark.operators.graph_pipeline import (
            build_graph)
        out = os.path.join(self.out, tag)
        t0 = time.perf_counter()
        with self.tracer.span("operators.graph_pipeline.build", k):
            bundle = build_graph(self.triples, self.concepts)
        with self.tracer.span("operators.graph_pipeline.materialize", k):
            bundle.nodes.write.mode("overwrite").parquet(os.path.join(out, "nodes"))
            bundle.edges.write.mode("overwrite").parquet(os.path.join(out, "edges"))
            bundle.subgraph_nodes.write.mode("overwrite").partitionBy(
                "subgraph_name").parquet(os.path.join(out, "subgraph_nodes"))
            bundle.subgraph_edges.write.mode("overwrite").partitionBy(
                "subgraph_name").parquet(os.path.join(out, "subgraph_edges"))
        return {"tag": tag, "wall_s": time.perf_counter() - t0,
                "mitigation_ranked": bundle.mitigation_ranked}

    def after(self) -> dict:
        return {}


WORKLOADS = {"extract": Extract, "graph": Graph}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--eventlog", default=None)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from climatemind_ontology_processing_spark.session import get_spark

    pid = os.getpid()
    tracer = Tracer(bool(args.trace))
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(args.out, "warehouse")}
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + args.eventlog,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    try:
        wl = WORKLOADS[args.workload](spark, args.inputs, args.out, tracer)
        # one untimed full iteration: the first pays ~20 s for Python worker
        # start-up and for compiling this input's plans, whatever its size
        with tracer.span("warmup"):
            warmup_s = [wl.iteration("warm", None)["wall_s"]]
        first_timed = time.time()
        iterations = []
        deadline = time.perf_counter() + args.seconds
        while (len(iterations) < MIN_ITERATIONS[tracer.enabled]
               or time.perf_counter() < deadline):
            k = len(iterations)
            before, steal0 = procstat.sample(pid), procstat.host()["steal_s"]
            with tracer.span("iteration", k):
                rec = wl.iteration(f"it{k}", k)
            d = procstat.sample(pid).minus(before)
            rec.update(cpu_s=d.cpu_s, driver_cpu_s=d.driver_cpu_s,
                       jvm_cpu_s=d.jvm_cpu_s, python_cpu_s=d.python_cpu_s,
                       host_steal_s=procstat.host()["steal_s"] - steal0)
            iterations.append(rec)
        end = procstat.sample(pid)
        result = {"session_s": session_s, "warmup_s": warmup_s,
                  "first_timed_wall": first_timed,
                  "iterations": iterations, "peak_rss_mb": end.peak_rss_mb,
                  "spans": tracer.spans, **wl.after()}
    finally:
        spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
