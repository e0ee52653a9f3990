"""The oracle sweep in the test suite: every registered query against its
DuckDB twin on the sf0.001 tables committed under ``tests/data/sf0.001``,
compared as ``tools/verify_oracles.py`` compares them (row count, sorted
columns, stringified value hash).  Queries without an oracle twin must
still run."""
from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402
from tools.verify_oracles import TABLES, value_hash  # noqa: E402

SF_DIR = str(REPO / "tests" / "data" / "sf0.001")
QUERIES = entry.queries()
ORACLES = entry.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    cols = sorted(sdf.columns)
    rows = [{c: r[c] for c in cols} for r in sdf.collect()]
    if name not in ORACLES:
        return                      # rows-only: running is the check
    ores = duck.execute(ORACLES[name]).fetch_df()
    ocols = sorted(ores.columns)
    orecs = ores.to_dict("records")
    assert len(rows) == len(orecs)
    assert cols == ocols
    assert value_hash(rows, cols) == value_hash(orecs, ocols)


def test_documents_doc_id_unique():
    """``_q_cooccurrence_edges`` builds each document's mention set per
    row, so a repeated ``doc_id`` would double-count its pairs."""
    ids = (pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id"])
           .column("doc_id").to_pylist())
    assert len(ids) == len(set(ids)) > 0
