"""Seeded inputs: reproducible bytes, and a graph whose copies stay apart."""
from __future__ import annotations

import filecmp
import os

import inputs
from climatemind_ontology_processing_spark.config import GREENHOUSE_EFFECT


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


def test_same_seed_same_page_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    ma = inputs.write_pages(a, seed=5, n=300)
    mb = inputs.write_pages(b, seed=5, n=300)
    inputs.write_pages(c, seed=6, n=300)
    assert _files(a) == _files(b)
    assert len(_files(a)) == inputs.PAGE_FILES
    for f in _files(a):
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
    assert ma == mb
    assert any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
               for f in _files(a))


def test_page_meta_matches_generator(tmp_path):
    from climatemind_ontology_processing_spark.sources.pages import expected_triples
    meta = inputs.write_pages(str(tmp_path), seed=3, n=200)
    assert {tuple(t) for t in meta["expected_triples"]} == expected_triples(3, 200)
    assert meta["raw_triples"] >= len(meta["expected_triples"]) > 0


def test_same_seed_same_edge_bytes(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert inputs.write_graph(a, seed=9, copies=4) == inputs.write_graph(b, seed=9, copies=4)
    f = os.path.join("edges", "part-00.parquet")
    assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)


def test_graph_copies_are_distinct_and_disjoint_from_root():
    rows, ks = inputs.graph_edges(seed=11, copies=6)
    n_golden = len(inputs.golden()["edges"])
    assert len(ks) == 6
    assert len(set(rows)) == len(rows) == n_golden * 7

    # the root's weakly connected component holds no copied label
    adj: dict[str, set[str]] = {}
    for s, _p, o in rows:
        adj.setdefault(s, set()).add(o)
        adj.setdefault(o, set()).add(s)
    seen, todo = {GREENHOUSE_EFFECT}, [GREENHOUSE_EFFECT]
    while todo:
        for v in adj.get(todo.pop(), ()):
            if v not in seen:
                seen.add(v)
                todo.append(v)
    assert len(seen) > 1
    assert not any(inputs.is_copy(v) for v in seen)
    # and no edge joins a copy to copy 0
    assert all(inputs.is_copy(s) == inputs.is_copy(o) for s, _p, o in rows)


def test_is_copy():
    assert inputs.is_copy(inputs.copy_label("increase in flooding", 12))
    assert not inputs.is_copy("increase in flooding")
    assert not inputs.is_copy("item #a")
