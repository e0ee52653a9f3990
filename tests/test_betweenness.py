"""Sampled Brandes betweenness (operators/betweenness.py)."""
from __future__ import annotations

import pytest

from climatemind_ontology_processing_spark.operators.betweenness import (
    SIGMA_EXACT_MAX, sampled_betweenness)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src int, dst int")


def test_path_graph_hand_values(spark):
    # path 0-1-2-3-4, ALL nodes as sources: sum_s delta_s(v) is twice the
    # classic unordered betweenness -> 1: 2*3=6, 2: 2*4=8, 3: 6, ends 0
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    srcs = spark.createDataFrame([(i,) for i in range(5)], "id int")
    got = {r.id: r.bc_micro for r in
           sampled_betweenness(e, sources=srcs).collect()}
    assert got == {0: 0, 1: 6_000_000, 2: 8_000_000, 3: 6_000_000,
                   4: 0}


def test_matches_networkx_all_sources(spark):
    nx = pytest.importorskip("networkx")
    # deterministic messy graph: two cliques bridged by a path
    pairs = ([(a, b) for a in range(4) for b in range(a + 1, 4)]
             + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
             + [(3, 7), (7, 8), (8, 10)])
    e = _edges(spark, pairs)
    nodes = sorted({x for p in pairs for x in p})
    srcs = spark.createDataFrame([(n,) for n in nodes], "id int")
    got = {r.id: r.bc_micro / 1e6 for r in
           sampled_betweenness(e, sources=srcs).collect()}
    g = nx.Graph(pairs)
    want = nx.betweenness_centrality(g, normalized=False)
    for n in nodes:
        # all-sources sampled sum counts each unordered pair twice
        assert got[n] == pytest.approx(2 * want[n], abs=1e-3), n


def test_deterministic_md5_source_pick_subsets(spark):
    e = _edges(spark, [(i, j) for i in range(6) for j in range(i + 1, 6)])
    a = sorted((r.id, r.bc_micro) for r in
               sampled_betweenness(e, num_sources=3).collect())
    b = sorted((r.id, r.bc_micro) for r in
               sampled_betweenness(e, num_sources=3).collect())
    assert a == b


def test_sigma_overflow_guard_is_loud(spark, monkeypatch):
    import climatemind_ontology_processing_spark.operators.betweenness as bw
    monkeypatch.setattr(bw, "SIGMA_EXACT_MAX", 1)
    # diamond: two shortest paths 0->3 (sigma=2 > patched cap)
    e = _edges(spark, [(0, 1), (0, 2), (1, 3), (2, 3)])
    with pytest.raises(ValueError, match="micro-exact bound"):
        bw.sampled_betweenness(
            e, sources=spark.createDataFrame([(0,)], "id int"))
    assert SIGMA_EXACT_MAX > 1  # module constant untouched for others


def test_forward_cap_is_loud(spark):
    e = _edges(spark, [(i, i + 1) for i in range(10)])
    with pytest.raises(RuntimeError, match="sampled_betweenness did not "
                                           "converge within max_rounds=3"):
        sampled_betweenness(
            e, sources=spark.createDataFrame([(0,)], "id int"),
            max_rounds=3)
