"""Per-query isolation bench + plan capture (guide §1.4/§1.5).

NOT the driver-timed harness (that is the frozen bench.py).  This tool:

* times individual declared queries (same ``.count()`` action as bench.py,
  or ``--noop`` for a full-column noop sink per guide §1.4),
* labels jobs via setJobDescription so the UI/event logs are readable,
* optionally writes ``.explain("formatted")`` to plans/r06/<q>_<tag>.txt.

Usage:
    python bench_extra.py [--reps N] [--noop] [--explain TAG] q1 [q2 ...]
    python bench_extra.py --explain before graph_build rule_mining

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import (golden_triples, graph_build, page_count,  # noqa: E402
                   scale_factor, triples_pipeline, warm_up)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--noop", action="store_true",
                    help="noop sink instead of count()")
    ap.add_argument("--explain", default=None, metavar="TAG",
                    help="write plans/r06/<q>_<TAG>.txt")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from climatemind_ontology_processing_spark.session import get_spark

    spark = get_spark(app_name="cmkg-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    qs = entrymod.queries()

    fixture = golden_triples(spark) if "graph_build" in args.names else None

    def build(name):
        if name == "graph_build":
            return SimpleNamespace(count=lambda: graph_build(spark, fixture))
        if name == "triples_pipeline":
            return triples_pipeline(spark, page_count(scale_factor(sf_dir)),
                                    cpus)
        return qs[name](spark, sf_dir)

    warm_up(spark, cpus)      # same as bench.py

    out: dict[str, list[float]] = {}
    for name in args.names:
        if args.explain is not None and name != "graph_build":
            os.makedirs("plans/r06", exist_ok=True)
            df = build(name)
            with open(f"plans/r06/{name}_{args.explain}.txt", "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        ts = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            # time build + action together, like bench.py's timed(): plan
            # construction is part of the cost (and for size-adaptive
            # small paths it's where the driver-side compute happens)
            t0 = time.time()
            df = build(name)
            if args.noop and name != "graph_build":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            ts.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = ts
        print(json.dumps({name: ts, "min": min(ts)}), flush=True)
    print(json.dumps({"queries_min": {k: min(v) for k, v in out.items()},
                      "loadavg": [round(x, 2) for x in os.getloadavg()]}))
    spark.stop()


if __name__ == "__main__":
    main()
