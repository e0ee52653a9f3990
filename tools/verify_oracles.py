"""Standalone oracle sweep — the driver's CORRECTNESS gate, runnable locally.

Runs every ``__spark_entry__.queries()`` entry against its
``oracle_sql()`` DuckDB twin at the given scale factor and compares
row counts, sorted-column schemas, and the driver's stringified
value hash.  Exit code 0 iff everything matches.

Usage:  python tools/verify_oracles.py [sf_dir] [query ...]
        (default sf_dir tests/data/sf0.001; no query names = all)
"""
from __future__ import annotations

import hashlib
import importlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.path.join(REPO, "tests", "data", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(rows, cols) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(str(r[c]) for c in cols)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


def main() -> int:
    import duckdb

    from climatemind_ontology_processing_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else SF_DIR
    wanted = [a for a in args if not os.path.isdir(a)]

    mod = importlib.import_module("__spark_entry__")
    spark = get_spark(app_name="cmkg-verify", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs, osql = mod.queries(), mod.oracle_sql()
    names = wanted or list(qs)
    bad: list[str] = []
    for name in names:
        if name not in qs:
            print(f"{name}: UNKNOWN QUERY")
            bad.append(name)
            continue
        try:
            sdf = qs[name](spark, sf_dir)
            cols = sorted(sdf.columns)
            rows = [{c: r[c] for c in cols} for r in sdf.collect()]
            if name not in osql:
                print(f"{name}: rows-only ({len(rows)} rows)")
                continue
            ores = con.execute(osql[name]).fetch_df()
            orecs = ores.to_dict("records")
            ok = (len(rows) == len(orecs)
                  and cols == sorted(ores.columns)
                  and value_hash(rows, cols)
                  == value_hash(orecs, sorted(ores.columns)))
            print(f"{name}: {'OK' if ok else 'MISMATCH'} ({len(rows)} rows)")
            if not ok:
                bad.append(name)
        except Exception as exc:                       # pragma: no cover
            print(f"{name}: ERROR {str(exc)[:160]}")
            bad.append(name)
    spark.stop()
    print(f"{len(names)} checked; "
          + ("ALL GREEN" if not bad else f"FAILED: {bad}"))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
