"""Seeded benchmark inputs, written to disk before the measured process starts.

The measured process only reads what this module writes.  Nothing here starts
Spark: pages come from ``sources.pages.gen_row`` (the row function that
``sources.pages.pages_df`` maps over ``spark.range``), edges from the golden
fixture.  Same seed, same sizes -> byte-identical files.
"""
from __future__ import annotations

import json
import os
import random
from importlib import resources

import pyarrow as pa
import pyarrow.parquet as pq

from climatemind_ontology_processing_spark.sources.pages import gen_row

PAGE_FILES = 8          # the scan gets several splits, as a crawl table would
COPY_SEP = " #"         # copy k of label L is "L #k"


def write_pages(out_dir: str, seed: int, n: int) -> dict:
    """Write ``n`` pages as PAGE_FILES parquet files under ``out_dir/pages``.

    Returns the generator's own answer: the deduped expected triple set (as
    sorted lists) and the raw (pre-dedup) cue-triple count."""
    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir, exist_ok=True)
    expected: set[tuple[str, str, str]] = set()
    raw = 0
    bounds = [n * f // PAGE_FILES for f in range(PAGE_FILES + 1)]
    for f in range(PAGE_FILES):
        rows = [gen_row(seed, i) for i in range(bounds[f], bounds[f + 1])]
        for r in rows:
            expected.update(r[5])
            raw += len(r[5])
        table = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "html": pa.array([r[2] for r in rows], pa.binary()),
            "text": pa.array([r[3] for r in rows], pa.string()),
            "lang": pa.array([r[4] for r in rows], pa.string()),
        })
        pq.write_table(table, os.path.join(pages_dir, f"part-{f:02d}.parquet"))
    return {"n_pages": n, "raw_triples": raw,
            "expected_triples": sorted(list(t) for t in expected)}


def golden() -> dict:
    ref = (resources.files("climatemind_ontology_processing_spark.data")
           / "golden_graph.json")
    return json.loads(ref.read_text())


def copy_label(label: str, k: int) -> str:
    return f"{label}{COPY_SEP}{k}"


def is_copy(label: str) -> bool:
    head, sep, tail = label.rpartition(COPY_SEP)
    return bool(sep) and tail.isdigit()


def graph_edges(seed: int, copies: int) -> tuple[list[tuple[str, str, str]], list[int]]:
    """Golden edges (copy 0) plus ``copies`` relabelled copies, in seeded order.

    The seed picks the copy numbers and the row order; every copy shares no
    label with the golden graph, so it is disjoint from the root's component
    and the edge and node counts depend only on ``copies``."""
    rng = random.Random(seed)
    ks = sorted(rng.sample(range(1, 100 * copies + 1), copies))
    base = [(e["src"], e["type"], e["dst"]) for e in golden()["edges"]]
    rows = list(base)
    for k in ks:
        rows.extend((copy_label(s, k), p, copy_label(o, k)) for s, p, o in base)
    rng.shuffle(rows)
    return rows, ks


def write_graph(out_dir: str, seed: int, copies: int) -> dict:
    """Write the (subj, pred, obj) edge table under ``out_dir/edges``."""
    rows, ks = graph_edges(seed, copies)
    edges_dir = os.path.join(out_dir, "edges")
    os.makedirs(edges_dir, exist_ok=True)
    pq.write_table(pa.table({
        "subj": pa.array([r[0] for r in rows], pa.string()),
        "pred": pa.array([r[1] for r in rows], pa.string()),
        "obj": pa.array([r[2] for r in rows], pa.string()),
    }), os.path.join(edges_dir, "part-00.parquet"))
    nodes = {r[0] for r in rows} | {r[2] for r in rows}
    return {"copies": ks, "n_edges": len(set(rows)), "n_nodes": len(nodes)}
