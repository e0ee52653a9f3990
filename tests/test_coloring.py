"""Jones-Plassmann coloring: sequential-greedy equivalence, validity,
greedy bound, and the loud round cap."""
from __future__ import annotations

import hashlib

import pytest

from climatemind_ontology_processing_spark.operators.coloring import (
    jp_coloring)

# two triangles sharing a node, a chain, and an isolated edge
EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (5, 6), (6, 7),
         (8, 9)]


def _h(seed, v):
    return int(hashlib.md5(f"{seed}|{v}".encode()).hexdigest()[:15], 16)


def _greedy_replica(edges, seed):
    """JP with static priorities == sequential greedy in (h, id) order:
    a node's colored-before set is exactly its smaller-(h, id) neighbors."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    order = sorted(adj, key=lambda v: (_h(seed, v), v))
    color = {}
    for v in order:
        used = {color[u] for u in adj[v] if u in color}
        c = 0
        while c in used:
            c += 1
        color[v] = c
    return color


def test_matches_sequential_greedy(spark):
    df = spark.createDataFrame(EDGES, "src int, dst int")
    got = {r.id: r.color for r in jp_coloring(df, seed="color").collect()}
    assert got == _greedy_replica(EDGES, "color")


def test_validity_and_greedy_bound(spark):
    df = spark.createDataFrame(EDGES, "src int, dst int")
    rows = jp_coloring(df).collect()
    color = {r.id: r.color for r in rows}
    deg = {}
    for a, b in EDGES:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for a, b in EDGES:
        assert color[a] != color[b]
    for v, c in color.items():
        assert 0 <= c <= deg[v]
    # rounds start at 1 and every node is colored exactly once
    assert sorted(color) == sorted(deg)
    assert min(r.jp_round for r in rows) == 1


def test_deterministic_across_runs(spark):
    df = spark.createDataFrame(EDGES, "src int, dst int")
    a = sorted((r.id, r.color, r.jp_round) for r in jp_coloring(df).collect())
    b = sorted((r.id, r.color, r.jp_round) for r in jp_coloring(df).collect())
    assert a == b


def test_round_cap_raises(spark):
    df = spark.createDataFrame(EDGES, "src int, dst int")
    with pytest.raises(RuntimeError, match="max_rounds"):
        jp_coloring(df, max_rounds=1)


def test_empty_input_returns_empty_frame(spark):
    df = spark.createDataFrame([], "src int, dst int")
    out = jp_coloring(df)
    assert out.count() == 0
    assert out.columns == ["id", "color", "jp_round"]


def test_converges_at_the_cap(spark):
    """A single edge colors one node per round: ``max_rounds=2`` colors
    both ends, and one round less raises."""
    df = spark.createDataFrame([(0, 1)], "src int, dst int")
    got = {r.id: (r.color, r.jp_round)
           for r in jp_coloring(df, max_rounds=2).collect()}
    assert sorted(got.values()) == [(0, 1), (1, 2)]
    with pytest.raises(RuntimeError, match="jp_coloring did not converge "
                                           "within max_rounds=1"):
        jp_coloring(df, max_rounds=1)
