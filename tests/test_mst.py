"""Borůvka minimum spanning forest — parity vs networkx and edge cases."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from climatemind_ontology_processing_spark.operators.mst import boruvka_msf


def _nx_msf(edge_list):
    """Reference MSF: Kruskal + union-find under the (w, lo, hi) total
    order (lexicographic perturbation -> unique forest)."""
    best = {}
    for u, v, w in edge_list:
        if u == v:
            continue
        lo, hi = min(u, v), max(u, v)
        if (lo, hi) not in best or best[(lo, hi)] > w:
            best[(lo, hi)] = w
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = set()
    for (lo, hi), w in sorted(best.items(), key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(lo), find(hi)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            out.add((lo, hi, w))
    return out


def test_boruvka_matches_networkx_random_graph(spark):
    edges = [((i * 7) % 40, (i * 13 + 3) % 40, (i * 31) % 97 + 1)
             for i in range(120)]
    df = spark.createDataFrame(edges, "src int, dst int, weight int")
    got = {(r.lo, r.hi, r.weight) for r in boruvka_msf(df).collect()}
    assert got == _nx_msf(edges)


def test_boruvka_disconnected_forest_and_duplicate_weights(spark):
    # two components, ALL weights equal -> ties broken by (lo, hi)
    edges = [(1, 2, 5), (2, 3, 5), (1, 3, 5), (10, 11, 5), (11, 12, 5),
             (10, 12, 5)]
    df = spark.createDataFrame(edges, "src int, dst int, weight int")
    got = {(r.lo, r.hi) for r in boruvka_msf(df).collect()}
    # Kruskal under (w, lo, hi): picks (1,2),(1,3) then (10,11),(10,12)
    assert got == {(1, 2), (1, 3), (10, 11), (10, 12)}
    assert got == {(e[0], e[1]) for e in _nx_msf(edges)}


def test_boruvka_parallel_edges_and_self_loops(spark):
    edges = [(1, 2, 9), (2, 1, 3), (1, 1, 1), (2, 3, 4)]
    df = spark.createDataFrame(edges, "src int, dst int, weight int")
    got = {(r.lo, r.hi, r.weight) for r in boruvka_msf(df).collect()}
    assert got == {(1, 2, 3), (2, 3, 4)}


def test_boruvka_null_weight_raises(spark):
    df = spark.createDataFrame([(1, 2, None)],
                               "src int, dst int, weight int")
    with pytest.raises(Exception, match="NULL weight"):
        boruvka_msf(df).collect()


def test_boruvka_round_cap_raises(spark):
    # a path of 9 nodes needs ~log2 rounds; cap 1 round can't finish
    edges = [(i, i + 1, i + 1) for i in range(8)]
    df = spark.createDataFrame(edges, "src int, dst int, weight int")
    with pytest.raises(RuntimeError, match="boruvka_msf did not converge "
                                           "within max_rounds=1"):
        boruvka_msf(df, max_rounds=1)


def test_boruvka_single_linkage_clusters(spark):
    """Cutting the heaviest MSF edges yields single-linkage clusters —
    the KG-canonicalization use: two tight cliques joined by one heavy
    bridge must keep the bridge as the unique heaviest forest edge."""
    tight_a = [(i, j, 1 + i + j) for i in range(4) for j in range(i + 1, 4)]
    tight_b = [(i, j, 1 + i + j) for i in range(10, 14)
               for j in range(i + 1, 14)]
    bridge = [(3, 10, 1000)]
    df = spark.createDataFrame(tight_a + tight_b + bridge,
                               "src int, dst int, weight int")
    got = sorted((r.weight, r.lo, r.hi) for r in boruvka_msf(df).collect())
    assert len(got) == 7            # 3 + 3 tree edges + bridge
    assert got[-1] == (1000, 3, 10)


# ---------------------------------------------------------------------------
# greedy_matching — locally-dominant == sequential greedy
# ---------------------------------------------------------------------------
def _greedy_matching_ref(edge_list):
    best = {}
    for u, v, w in edge_list:
        if u == v:
            continue
        lo, hi = min(u, v), max(u, v)
        if (lo, hi) not in best or best[(lo, hi)] > w:
            best[(lo, hi)] = w
    used, out = set(), set()
    for (lo, hi), w in sorted(best.items(), key=lambda kv: (kv[1], kv[0])):
        if lo not in used and hi not in used:
            used.update((lo, hi))
            out.add((lo, hi, w))
    return out


def test_greedy_matching_equals_sequential(spark):
    from climatemind_ontology_processing_spark.operators.mst import (
        greedy_matching)
    edges = [((i * 7) % 30, (i * 13 + 3) % 30, (i * 31) % 97 + 1)
             for i in range(90)]
    df = spark.createDataFrame(edges, "src int, dst int, weight int")
    got = {(r.lo, r.hi, r.weight) for r in greedy_matching(df).collect()}
    assert got == _greedy_matching_ref(edges)


def test_greedy_matching_is_a_maximal_matching(spark):
    from climatemind_ontology_processing_spark.operators.mst import (
        greedy_matching)
    edges = [((i * 3) % 20, (i * 11 + 1) % 20, (i * 17) % 50 + 1)
             for i in range(60)]
    df = spark.createDataFrame(edges, "src int, dst int, weight int")
    got = {(r.lo, r.hi) for r in greedy_matching(df).collect()}
    used = [n for e in got for n in e]
    assert len(used) == len(set(used))          # matching: disjoint nodes
    # maximality: every alive edge touches a matched node
    canon = {(min(u, v), max(u, v)) for u, v, _ in edges if u != v}
    assert all(u in set(used) or v in set(used) for u, v in canon)


def test_greedy_matching_cap_raises(spark):
    from climatemind_ontology_processing_spark.operators.mst import (
        greedy_matching)
    # a 6-path with increasing weights matches one edge per round at the
    # left end -> needs >1 round; cap at 1 must raise loudly
    edges = [(i, i + 1, i + 1) for i in range(6)]
    df = spark.createDataFrame(edges, "src int, dst int, weight int")
    with pytest.raises(RuntimeError, match="greedy_matching did not converge "
                                           "within max_rounds=1"):
        greedy_matching(df, max_rounds=1)


def test_msf_increment_equals_full_recompute(spark):
    from climatemind_ontology_processing_spark.operators.mst import (
        boruvka_msf, msf_increment)
    base = [((i * 7) % 30, (i * 13 + 3) % 30, (i * 31) % 97 + 1)
            for i in range(60)]
    delta = [((i * 5) % 30, (i * 11 + 2) % 30, (i * 17) % 97 + 1)
             for i in range(25)]
    bdf = spark.createDataFrame(base, "src int, dst int, weight int")
    ddf = spark.createDataFrame(delta, "src int, dst int, weight int")
    full = {(r.lo, r.hi, r.weight)
            for r in boruvka_msf(
                bdf.unionByName(ddf)).collect()}
    inc = {(r.lo, r.hi, r.weight)
           for r in msf_increment(boruvka_msf(bdf), ddf).collect()}
    assert inc == full


def test_msf_increment_new_component_bridges(spark):
    """Delta edges may CONNECT previously separate components — the
    incremental path must hook across them."""
    from climatemind_ontology_processing_spark.operators.mst import (
        boruvka_msf, msf_increment)
    base = [(1, 2, 1), (10, 11, 1)]
    delta = [(2, 10, 5)]
    bdf = spark.createDataFrame(base, "src int, dst int, weight int")
    ddf = spark.createDataFrame(delta, "src int, dst int, weight int")
    inc = {(r.lo, r.hi) for r in
           msf_increment(boruvka_msf(bdf), ddf).collect()}
    assert inc == {(1, 2), (10, 11), (2, 10)}


def test_coarsen_one_level(spark):
    from climatemind_ontology_processing_spark.operators.mst import (
        coarsen_graph, coarsen_mapping)
    # square 1-2-3-4 with a pendant 5; weights force matching {1,2},{3,4}
    edges = [(1, 2, 1), (2, 3, 10), (3, 4, 1), (4, 1, 10), (4, 5, 20)]
    df = spark.createDataFrame(edges, "src int, dst int, weight int")
    mp = {r.id: r.rep for r in coarsen_mapping(df).collect()}
    assert mp == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    got = {(r.lo, r.hi): r.weight
           for r in coarsen_graph(df, coarsen_mapping(df)).collect()}
    # 2-3 and 4-1 both collapse to super-edge (1,3) weight 20; 4-5 -> (3,5)
    assert got == {(1, 3): 20, (3, 5): 20}


def test_coarsen_unmapped_node_raises(spark):
    from climatemind_ontology_processing_spark.operators.mst import (
        coarsen_graph)
    df = spark.createDataFrame([(1, 2, 1)], "src int, dst int, weight int")
    mp = spark.createDataFrame([(1, 1)], "id int, rep int")
    with pytest.raises(Exception, match="unmapped node"):
        coarsen_graph(df, mp).collect()


def test_partition_stats_closed_form(spark):
    from climatemind_ontology_processing_spark.operators.mst import (
        partition_stats)
    edges = [(1, 2, 0), (2, 3, 0), (3, 4, 0), (4, 1, 0)]   # 4-cycle
    df = spark.createDataFrame(edges, "src int, dst int, w int")
    mp = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b"), (4, "b")],
                               "id int, rep string")
    r = partition_stats(df, mp).collect()[0]
    assert (r.n_parts, r.n_nodes, r.edge_cut) == (2, 4, 2)
    assert r.cut_micro == 500000            # 2 of 4 edges cut
    assert r.balance_micro == 1000000       # perfectly balanced


def test_partition_stats_unmapped_raises(spark):
    from climatemind_ontology_processing_spark.operators.mst import (
        partition_stats)
    df = spark.createDataFrame([(1, 9, 0)], "src int, dst int, w int")
    mp = spark.createDataFrame([(1, "a")], "id int, rep string")
    with pytest.raises(Exception, match="unmapped node"):
        partition_stats(df, mp).collect()


def test_single_linkage_two_tight_groups(spark):
    from climatemind_ontology_processing_spark.operators.mst import (
        single_linkage_clusters)
    a = [(1, 2, 1), (2, 3, 2), (1, 3, 3)]
    b = [(10, 11, 1), (11, 12, 2)]
    bridge = [(3, 10, 100)]
    df = spark.createDataFrame(a + b + bridge,
                               "src int, dst int, weight int")
    got = {r.id: r.cluster
           for r in single_linkage_clusters(df, 2).collect()}
    assert {got[1], got[2], got[3]} == {got[1]}
    assert {got[10], got[11], got[12]} == {got[10]}
    assert got[1] != got[10]
    one = {r.id: r.cluster
           for r in single_linkage_clusters(df, 1).collect()}
    assert len(set(one.values())) == 1


def test_single_linkage_matches_scipy_style_reference(spark):
    """Cut count k yields exactly the components of the MSF minus its
    k-1 heaviest edges — cross-checked against the Kruskal reference."""
    from climatemind_ontology_processing_spark.operators.mst import (
        single_linkage_clusters)
    edges = [((i * 7) % 20, (i * 13 + 3) % 20, (i * 31) % 97 + 1)
             for i in range(60)]
    df = spark.createDataFrame(edges, "src int, dst int, weight int")
    msf = sorted(_nx_msf(edges), key=lambda e: (e[2], e[0], e[1]))
    kept = msf[:-3]  # cut 3 heaviest -> 4 clusters (graph is connected)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    nodes = {n for u, v, _ in edges for n in (u, v)}
    for n in nodes:
        find(n)
    for lo, hi, _ in kept:
        ra, rb = find(lo), find(hi)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in nodes}
    got = {r.id: r.cluster
           for r in single_linkage_clusters(df, 4).collect()}
    # same partition (representative choice may differ in principle,
    # but both use min-id; compare as partitions to be safe)
    gsets = {}
    for n, c in got.items():
        gsets.setdefault(c, set()).add(n)
    wsets = {}
    for n, c in want.items():
        wsets.setdefault(c, set()).add(n)
    assert sorted(map(sorted, gsets.values())) == \
        sorted(map(sorted, wsets.values()))


def test_greedy_matching_converges_at_the_cap(spark):
    """A single edge matches in round 1: ``max_rounds=1`` returns it, and
    one round less raises."""
    from climatemind_ontology_processing_spark.operators.mst import (
        greedy_matching)
    df = spark.createDataFrame([(0, 1, 5)], "src int, dst int, weight int")
    got = [tuple(r) for r in greedy_matching(df, max_rounds=1).collect()]
    assert got == [(0, 1, 5)]
    with pytest.raises(RuntimeError, match="greedy_matching did not "
                                           "converge within max_rounds=0"):
        greedy_matching(df, max_rounds=0)
