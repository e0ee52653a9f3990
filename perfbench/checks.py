"""Correctness gates, run on the written outputs after the measured process
has exited, so none of this is timed.

Each gate returns per-iteration check counts and the triple sets compared,
which feed ``correct_ratio``, ``triple_precision`` and ``triple_recall``.
"""
from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

import pyarrow.dataset as ds

from inputs import copy_label, golden, is_copy

# mitigation_ranked of the small-path build_graph on the golden fixture alone
# (54 labels; the same for either row order), recorded from the engine
GOLDEN_RANKING = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "golden_mitigation_ranked.json")


@dataclass
class Gate:
    passed: int = 0
    attempted: int = 0
    true_pos: int = 0       # output triples that are in the expected set
    written: int = 0        # output triples
    expected: int = 0       # expected triples
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        self.passed += bool(ok)
        if not ok:
            self.failures.append(what)
        return ok

    def compare(self, got: set, want: set) -> None:
        self.true_pos += len(got & want)
        self.written += len(got)
        self.expected += len(want)


def _table(path: str, columns: list[str]):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns)


def _rows(path: str, columns: list[str]) -> list[tuple]:
    t = _table(path, columns)
    cols = [t.column(c).to_pylist() for c in columns]
    return list(zip(*cols))


def extract_iteration(gate: Gate, out: str, meta: dict) -> bool:
    """Written triples equal the generator's set, and lineage counters add up."""
    want = {tuple(t) for t in meta["expected_triples"]}
    rows = _rows(os.path.join(out, "triples"), ["subj", "pred", "obj"])
    got = set(rows)
    gate.compare(got, want)
    ok = gate.check(got == want, f"{out}: triple set")
    ok &= gate.check(len(rows) == len(got), f"{out}: duplicate triples")
    lineage = []
    for f in glob.glob(os.path.join(out, "lineage", "*.json")):
        with open(f) as fh:
            lineage.extend(json.loads(line) for line in fh if line.strip())
    ok &= gate.check(sum(r["n_pages"] for r in lineage) == meta["n_pages"],
                     f"{out}: lineage page count")
    ok &= gate.check(sum(r["n_triples"] for r in lineage) == len(rows),
                     f"{out}: lineage triple count")
    return ok


def graph_iteration(gate: Gate, out: str, meta: dict, ranked: list[str]) -> bool:
    """Counts equal the generator's; copy 0 equals the golden graph."""
    g = golden()
    edges = _rows(os.path.join(out, "edges"), ["src", "dst", "type"])
    got = set(edges)
    want = {(e["src"], e["dst"], e["type"]) for e in g["edges"]}
    for k in meta["copies"]:
        want |= {(copy_label(e["src"], k), copy_label(e["dst"], k), e["type"])
                 for e in g["edges"]}
    gate.compare(got, want)
    ok = gate.check(len(edges) == meta["n_edges"] and got == want,
                    f"{out}: edge table")
    n_nodes = _table(os.path.join(out, "nodes"), ["label"]).num_rows
    ok &= gate.check(n_nodes == meta["n_nodes"], f"{out}: node count")
    with open(GOLDEN_RANKING) as f:
        want_ranked = json.load(f)
    ok &= gate.check(ranked == want_ranked, f"{out}: copy-0 mitigation ranking")
    sub_nodes: dict[str, set] = {}
    for name, node in _rows(os.path.join(out, "subgraph_nodes"),
                            ["subgraph_name", "node_id"]):
        if not is_copy(node):
            sub_nodes.setdefault(name, set()).add(node)
    sub_edges: dict[str, set] = {}
    for name, s, d in _rows(os.path.join(out, "subgraph_edges"),
                            ["subgraph_name", "src", "dst"]):
        if not (is_copy(s) or is_copy(d)):
            sub_edges.setdefault(name, set()).add((s, d))
    for name, sg in g["subgraphs"].items():
        ok &= gate.check(sub_nodes.get(name, set()) == set(sg["nodes"]),
                         f"{out}: subgraph nodes {name}")
        ok &= gate.check(sub_edges.get(name, set()) == {tuple(e) for e in sg["edges"]},
                         f"{out}: subgraph edges {name}")
    return ok
