"""Luby MIS: python replica equality + independence/maximality invariants."""
from __future__ import annotations

import hashlib

import pytest

from climatemind_ontology_processing_spark.operators.graphstats import (
    luby_mis)


def _h(seed, r, v):
    return int(hashlib.md5(f"{seed}|{r}|{v}".encode()).hexdigest()[:15], 16)


def _replica(edges, seed="mis"):
    und = {}
    for a, b in edges:
        if a == b:
            continue
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    live = set(und)
    out = {}
    r = 0
    while live:
        r += 1
        pri = {v: (_h(seed, r, v), v) for v in live}
        winners = {v for v in live
                   if all(pri[v] < pri[w] for w in und[v] & live)}
        for v in winners:
            out[v] = r
        removed = set(winners)
        for v in winners:
            removed |= und[v] & live
        live -= removed
    return out


def _graph(n=60, deg=3):
    edges = []
    for i in range(n):
        for j in range(deg):
            t = int(hashlib.md5(f"g|{i}|{j}".encode()).hexdigest()[:8],
                    16) % n
            if t != i:
                edges.append((i, t))
    return edges


def test_matches_replica(spark):
    edges = _graph()
    e = spark.createDataFrame(edges, "src int, dst int")
    got = {r["id"]: r["mis_round"] for r in luby_mis(e).collect()}
    assert got == _replica(edges)


def test_independent_and_maximal(spark):
    edges = _graph(n=120, deg=4)
    e = spark.createDataFrame(edges, "src int, dst int")
    mis = {r["id"] for r in luby_mis(e).collect()}
    und = {}
    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
        nodes.update((a, b))
    # independence: no edge inside the MIS
    for v in mis:
        assert not (und[v] & mis), v
    # maximality: every non-member has a member neighbor
    for v in nodes - mis:
        assert und[v] & mis, v


def test_round_cap_raises(spark):
    e = spark.createDataFrame([(0, 1), (1, 2)], "src int, dst int")
    with pytest.raises(RuntimeError, match="max_rounds"):
        luby_mis(e, max_rounds=0)


def test_converges_at_the_cap(spark):
    """A single edge empties the live set in round 1: ``max_rounds=1``
    returns that round's result, and one round less raises."""
    e = spark.createDataFrame([(0, 1)], "src int, dst int")
    got = {(r["id"], r["mis_round"])
           for r in luby_mis(e, max_rounds=1).collect()}
    assert got == set(_replica([(0, 1)]).items())
    assert len(got) == 1
    with pytest.raises(RuntimeError,
                       match="luby_mis did not converge within max_rounds=0"):
        luby_mis(e, max_rounds=0)
