"""The adaptive small-graph fast path and the iterative-join scale path must
produce identical results (the scale path is what runs at 10^12 docs; the
fast path is what runs on curated-ontology-sized graphs)."""
from __future__ import annotations

import time

import pytest

import climatemind_ontology_processing_spark.operators.traversal as trav
from climatemind_ontology_processing_spark.config import CAUSES
from climatemind_ontology_processing_spark.operators.canonicalize import (
    connected_components)
from climatemind_ontology_processing_spark.operators.traversal import (
    bfs_reachable, bfs_reachable_tagged, transitive_closure)


@pytest.fixture(scope="module")
def edges(spark):
    rows = [
        ("r", "a", CAUSES), ("a", "b", CAUSES), ("b", "c", CAUSES),
        ("x", "a", "inhibits"), ("c", "d", "other"), ("e", "r", CAUSES),
        ("q", "x", CAUSES), ("d", "q2", CAUSES),
    ]
    return spark.createDataFrame(rows, "src string, dst string, type string")


@pytest.fixture()
def force_distributed(monkeypatch):
    monkeypatch.setattr(trav, "SMALL_GRAPH_THRESHOLD", 0)


def test_bfs_paths_agree(spark, edges, force_distributed):
    seeds = spark.createDataFrame([("r",)], "id string")
    dist = {r.id for r in bfs_reachable(edges, seeds, "any", None).collect()}
    trav.SMALL_GRAPH_THRESHOLD = 10_000
    fast = {r.id for r in bfs_reachable(edges, seeds, "any", None).collect()}
    assert dist == fast and "q2" in dist


def test_tagged_bfs_paths_agree(spark, edges, force_distributed):
    seeds = spark.createDataFrame([("t1", "c"), ("t2", "x")], "tag string, id string")
    dist = {(r.tag, r.id)
            for r in bfs_reachable_tagged(edges, seeds, "reverse", CAUSES).collect()}
    trav.SMALL_GRAPH_THRESHOLD = 10_000
    fast = {(r.tag, r.id)
            for r in bfs_reachable_tagged(edges, seeds, "reverse", CAUSES).collect()}
    assert dist == fast
    assert ("t1", "r") in dist and ("t1", "e") in dist


def test_closure_paths_agree(spark, edges, force_distributed):
    dist = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    trav.SMALL_GRAPH_THRESHOLD = 10_000
    fast = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    assert dist == fast and ("r", "q2") in dist


def test_cc_hub_skew_star_converges_fast(spark, force_distributed):
    """Hub-skew stress (round-1 verdict #3 follow-up): a star with 10^4
    leaves must converge within TWO propagate+jump rounds on the distributed
    path — max_rounds=2 caps the loop, so a slow-converging implementation
    would return wrong labels.  The hub's reduce key is touched O(1) times,
    which is the scale property that matters at web-hub degree."""
    leaves = 10_000
    rows = [(f"leaf_{i:05d}", "hub") for i in range(leaves)]
    e = spark.createDataFrame(rows, "src string, dst string")
    got = dict((r.id, r.component)
               for r in connected_components(e, max_rounds=2).collect())
    assert len(got) == leaves + 1
    assert set(got.values()) == {"hub"}  # 'hub' < 'leaf_*' lexicographically


def test_cc_salted_star_identical(spark, force_distributed):
    """Round-2 verdict next-step #6: the salted propagate path (two-phase
    min through skew.salted_agg) must return IDENTICAL labels on a
    10^5-leaf star — the mega-hub shape salting exists for — plus a
    multi-component side graph to catch cross-component leakage."""
    leaves = 100_000
    rows = [(f"leaf_{i:06d}", "hub") for i in range(leaves)]
    rows += [("m1", "m2"), ("m2", "m3"), ("zz1", "zz2")]
    e = spark.createDataFrame(rows, "src string, dst string").repartition(16)
    salted = dict((r.id, r.component)
                  for r in connected_components(e, salted=True).collect())
    plain = dict((r.id, r.component)
                 for r in connected_components(e).collect())
    assert salted == plain
    assert sum(1 for v in salted.values() if v == "hub") == leaves + 1
    assert salted["m3"] == "m1" and salted["zz2"] == "zz1"


def test_dag_layers_paths_agree(spark, force_distributed):
    """X3 layering: distributed semi-naive max-propagation must equal the
    driver-side topological DP, and layers must be longest-path (diamond:
    the long branch sets the sink's layer)."""
    from climatemind_ontology_processing_spark.operators.layout import (
        dag_layers)
    #    a -> b -> c -> d    and   a -> d   (longest path to d is 3)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("x", "b")],
        "src string, dst string")
    dist = {r.id: r.layer for r in dag_layers(e).collect()}
    trav.SMALL_GRAPH_THRESHOLD = 10_000
    fast = {r.id: r.layer for r in dag_layers(e).collect()}
    assert dist == fast
    assert fast == {"a": 0, "x": 0, "b": 1, "c": 2, "d": 3}


def test_dag_layers_raises_one_round_short(spark, force_distributed):
    """The driver twin has no rounds, so the distributed loop is pinned
    alone: a 3-edge chain converges in 4 rounds (the 4th moves no layer),
    so max_rounds=3 raises and max_rounds=4 returns the layering."""
    from climatemind_ontology_processing_spark.operators.layout import (
        dag_layers)
    e = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")],
                              "src string, dst string")
    with pytest.raises(RuntimeError,
                       match="dag_layers did not converge within "
                             "max_rounds=3"):
        dag_layers(e, max_rounds=3)
    got = {r.id: r.layer for r in dag_layers(e, max_rounds=4).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_dag_layers_cycle_raises(spark):
    from climatemind_ontology_processing_spark.operators.layout import (
        dag_layers)
    e = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    with pytest.raises(ValueError, match="cycl|acyclic"):
        dag_layers(e)


def test_cc_chain_pointer_jumping_log_rounds(spark, force_distributed):
    """A 64-node path graph needs O(log n) rounds with pointer jumping
    (~6 + slack), far below the O(n) a plain propagation would need."""
    n = 64
    rows = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)]
    e = spark.createDataFrame(rows, "src string, dst string")
    got = dict((r.id, r.component)
               for r in connected_components(e, max_rounds=8).collect())
    assert set(got.values()) == {"n000"}


def test_cc_raises_at_round_cap(spark, force_distributed):
    """A 41-node chain needs more than one propagate+jump round: at
    max_rounds=1 the distributed loop must raise, not return the partial
    labelling (37 components)."""
    rows = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(40)]
    e = spark.createDataFrame(rows, "src string, dst string")
    with pytest.raises(RuntimeError,
                       match="connected_components did not converge "
                             "within max_rounds=1"):
        connected_components(e, max_rounds=1).collect()


def test_cc_paths_agree(spark, force_distributed):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "a")], "src string, dst string")
    dist = {(r.id, r.component) for r in connected_components(e).collect()}
    trav.SMALL_GRAPH_THRESHOLD = 10_000
    fast = {(r.id, r.component) for r in connected_components(e).collect()}
    assert dist == fast
    assert dict(dist)["f"] == "a" and dict(dist)["e"] == "d"


def _scc_expected(rows):
    """Reference SCC via brute-force mutual reachability (exponential-free:
    closure over <=30 nodes)."""
    nodes = sorted({x for ab in rows for x in ab})
    reach = {n: {n} for n in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in rows:
            add = reach[b] - reach[a]
            if add:
                reach[a] |= add
                changed = True
    return {v: min(u for u in nodes if u in reach[v] and v in reach[u])
            for v in nodes}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_scc_paths_agree_random(spark, force_distributed, seed):
    """Tarjan fast path == FW-BW coloring distributed path == brute-force
    mutual-reachability reference, on random directed graphs with real
    cycle structure."""
    import random
    from climatemind_ontology_processing_spark.operators.scc import (
        strongly_connected_components)
    rng = random.Random(seed)
    n = 18
    rows = sorted({(f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
                   for _ in range(40)})
    rows = [(a, b) for a, b in rows if a != b]
    df = spark.createDataFrame(rows, "src string, dst string")
    dist = {r.id: r.component
            for r in strongly_connected_components(df).collect()}
    trav.SMALL_GRAPH_THRESHOLD = 10_000
    fast = {r.id: r.component
            for r in strongly_connected_components(df).collect()}
    exp = _scc_expected(rows)
    assert fast == exp
    assert dist == exp


def test_scc_distributed_raises_on_inner_cap(spark, force_distributed):
    """CLAUDE.md invariant: iterative operators with round caps must RAISE
    on cap exhaustion.  A 20-cycle has backward hop-depth 19, far beyond a
    tiny max_inner — both the coloring loop (pointer-jumped, ~log2(d)
    rounds) and the backward collect loop (plain BFS, d rounds) must fail
    LOUDLY rather than emit a partial SCC that then mis-trims to
    singletons (round-3 ADVICE, high)."""
    from climatemind_ontology_processing_spark.operators.scc import (
        strongly_connected_components)
    n = 20
    rows = [(f"c{i:02d}", f"c{(i + 1) % n:02d}") for i in range(n)]
    df = spark.createDataFrame(rows, "src string, dst string")
    # coloring needs ~log2(19) ~ 5 rounds: max_inner=2 exhausts coloring
    with pytest.raises(RuntimeError, match="coloring"):
        strongly_connected_components(df, max_inner=2)
    # coloring fits in 8 rounds but backward collect needs 19: exhausts there
    with pytest.raises(RuntimeError, match="backward collect"):
        strongly_connected_components(df, max_inner=8)
    # adequate cap: the full cycle is one SCC rooted at its min member
    got = {r.id: r.component
           for r in strongly_connected_components(df, max_inner=25).collect()}
    assert got == {f"c{i:02d}": "c00" for i in range(n)}


def test_scc_hand_structure(spark):
    """Two 3-cycles bridged one-way + a dangling chain: the bridge must NOT
    merge the cycles, chain nodes are singletons, component = min member."""
    from climatemind_ontology_processing_spark.operators.scc import (
        strongly_connected_components)
    rows = [("a", "b"), ("b", "c"), ("c", "a"),          # cycle 1
            ("d", "e"), ("e", "f"), ("f", "d"),          # cycle 2
            ("c", "d"),                                   # one-way bridge
            ("f", "g"), ("g", "h"),                       # chain
            ("z", "z")]                                   # self-loop only
    df = spark.createDataFrame(rows, "src string, dst string")
    got = {r.id: r.component
           for r in strongly_connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "d": "d", "e": "d", "f": "d",
                   "g": "g", "h": "h"}


def test_list_seeds_take_edge_type_on_both_arms(spark, monkeypatch):
    """A driver-side seed list takes the type of ``edges.src``: the small
    and the distributed arm return the same schema and rows."""
    e = spark.createDataFrame([(0, 1, "t"), (1, 2, "t"), (5, 6, "t")],
                              "src bigint, dst bigint, type string")
    small = bfs_reachable(e, [0])
    monkeypatch.setattr(trav, "SMALL_GRAPH_THRESHOLD", 0)
    dist = bfs_reachable(e, [0])
    assert small.schema == dist.schema
    assert small.schema.simpleString() == "struct<id:bigint>"
    assert sorted(small.collect()) == sorted(dist.collect())
    assert sorted(r.id for r in dist.collect()) == [0, 1, 2]


def test_bfs_rejects_bad_direction_on_both_arms(spark, edges, monkeypatch):
    with pytest.raises(ValueError, match="bad direction"):
        bfs_reachable(edges, ["r"], "sideways")
    monkeypatch.setattr(trav, "SMALL_GRAPH_THRESHOLD", 0)
    with pytest.raises(ValueError, match="bad direction"):
        bfs_reachable(edges, ["r"], "sideways")


def test_small_rows_gate(spark, monkeypatch):
    """One limited collect: distinct rows in first-seen order at or below
    the threshold (counted on RAW rows), None above it or when the
    threshold is <= 0."""
    df = spark.createDataFrame([("a", "b"), ("a", "b"), ("b", "c")],
                               "src string, dst string")
    monkeypatch.setattr(trav, "SMALL_GRAPH_THRESHOLD", 3)
    assert trav.small_rows(df) == [("a", "b"), ("b", "c")]
    monkeypatch.setattr(trav, "SMALL_GRAPH_THRESHOLD", 2)
    assert trav.small_rows(df) is None
    monkeypatch.setattr(trav, "SMALL_GRAPH_THRESHOLD", 0)
    assert trav.small_rows(df) is None


def test_checkpoint_raises_after_retry(spark, monkeypatch):
    """_checkpoint retries once on fresh attribute ids, then fails loudly
    instead of handing back an uncheckpointed plan."""
    calls = []

    def failing(self, eager=True):
        calls.append(eager)
        raise RuntimeError("checkpoint failed")

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    # the session's concrete DataFrame class (pyspark.sql.DataFrame is an
    # abstract base in Spark 4)
    monkeypatch.setattr(type(df), "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        trav._checkpoint(df)
    assert len(calls) == 2


def test_checkpoint_does_not_retry_a_deliberate_error(spark, monkeypatch):
    """A plan that fails on purpose (``F.raise_error``: boruvka_msf's NULL
    weight check) fails the same way on a retry, so _checkpoint re-raises
    it after the first failed job."""
    from climatemind_ontology_processing_spark.operators.mst import (
        boruvka_msf)
    monkeypatch.setattr(trav, "SMALL_GRAPH_THRESHOLD", 0)
    df = spark.createDataFrame([(1, 2, None), (2, 3, None)],
                               "src int, dst int, weight int")
    sc = spark.sparkContext
    sc.setJobGroup("deliberate-error", "boruvka_msf NULL weight")
    try:
        with pytest.raises(Exception, match="NULL weight"):
            boruvka_msf(df)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    # job statuses arrive through the listener bus; wait for final ones
    for _ in range(100):
        status = [tracker.getJobInfo(j).status
                  for j in tracker.getJobIdsForGroup("deliberate-error")]
        if "RUNNING" not in status and "UNKNOWN" not in status:
            break
        time.sleep(0.1)
    assert status == ["FAILED"]


CAP = 3


def _path(spark, n_edges):
    return spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}", "t") for i in range(n_edges)],
        "src string, dst string, type string")


def _cap_cases():
    """{name: (run(spark, depth) -> DataFrame, rows expected at depth)}.
    ``depth`` is the number of expansions after which the loop's frontier
    drains: a path of depth-1 edges for a BFS from its head, depth edges for
    rdfs' closure (seeded with the relation's own pairs), a depth-cycle for
    SCC's backward collect from its root."""
    from pyspark.sql import functions as F

    from climatemind_ontology_processing_spark.operators import rdfs
    from climatemind_ontology_processing_spark.operators.scc import (
        strongly_connected_components)
    from climatemind_ontology_processing_spark.operators.traversal import (
        rpq_reachable)

    def tagged(spark, d):
        seeds = spark.createDataFrame([("t", "n0")], "tag string, id string")
        return bfs_reachable_tagged(_path(spark, d - 1), seeds, "forward",
                                    None, CAP)

    def rpq(spark, d):
        trip = _path(spark, d - 1).select(F.col("src").alias("subj"),
                                          F.col("type").alias("pred"),
                                          F.col("dst").alias("obj"))
        seeds = spark.createDataFrame([("n0",)], "id string")
        return rpq_reachable(trip, seeds, [(0, "t", 0)], (0,), max_rounds=CAP)

    def scc(spark, d):
        cycle = spark.createDataFrame(
            [(f"n{i}", f"n{(i + 1) % d}") for i in range(d)],
            "src string, dst string")
        return strongly_connected_components(cycle, max_inner=CAP)

    return {
        "bfs_reachable": (lambda spark, d: bfs_reachable(
            _path(spark, d - 1), ["n0"], "forward", None, CAP), CAP),
        "bfs_reachable_tagged": (tagged, CAP),
        "transitive_closure": (lambda spark, d: transitive_closure(
            _path(spark, d - 1), None, CAP), CAP * (CAP + 1) // 2),
        "rdfs.transitive_closure": (lambda spark, d: rdfs.transitive_closure(
            _path(spark, d), a="src", b="dst", max_rounds=CAP),
            CAP * (CAP + 1) // 2),
        "rpq_reachable": (rpq, CAP),
        "scc_backward_collect": (scc, CAP),
    }


@pytest.mark.parametrize("case", sorted(_cap_cases()))
def test_round_cap_boundary_same_on_both_arms(spark, monkeypatch, case):
    """One round-cap rule for every reachability loop, on both arms: a
    frontier that drains within the cap returns the full result (identical
    rows on the small and the distributed arm); one expansion deeper
    raises instead of truncating silently."""
    run, n_rows = _cap_cases()[case]
    got = {}
    for threshold in (trav.SMALL_GRAPH_THRESHOLD, 0):
        monkeypatch.setattr(trav, "SMALL_GRAPH_THRESHOLD", threshold)
        got[threshold] = sorted(run(spark, CAP).collect())
        with pytest.raises(RuntimeError, match=f"max_rounds={CAP}"):
            run(spark, CAP + 1).collect()
    small, dist = got.values()
    assert len(small) == n_rows
    assert small == dist


def _counted_twin_cases():
    """{name: (run(spark, edges, cap) -> DataFrame, first cap that
    converges, rows at that cap)} for the driver twins that count rounds,
    on the weighted path n0 -> n1 -> ... -> n5 (edge i weighs i + 1)."""
    from climatemind_ontology_processing_spark.operators.betweenness import (
        sampled_betweenness)
    from climatemind_ontology_processing_spark.operators.mst import (
        boruvka_msf)
    from climatemind_ontology_processing_spark.operators.paths import (
        landmark_distances)

    def n0(spark):
        return spark.createDataFrame([("n0",)], "id string")

    return {
        "landmark_distances": (lambda spark, e, cap: landmark_distances(
            e, weight="weight", undirected=False, landmarks=n0(spark),
            max_rounds=cap), 6, 6),
        "sampled_betweenness": (lambda spark, e, cap: sampled_betweenness(
            e, sources=n0(spark), max_rounds=cap), 6, 5),
        "boruvka_msf": (lambda spark, e, cap: boruvka_msf(
            e, max_rounds=cap), 2, 5),
    }


@pytest.mark.parametrize("case", sorted(_counted_twin_cases()))
def test_counted_twin_cap_boundary_same_on_both_arms(spark, monkeypatch,
                                                     case):
    """The driver twins that count rounds share their distributed loop's
    cap: one round short of convergence raises on both arms, and the
    first converging cap returns identical rows on both."""
    run, cap, n_rows = _counted_twin_cases()[case]
    e = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}", i + 1) for i in range(5)],
        "src string, dst string, weight int")
    got = {}
    for threshold in (trav.SMALL_GRAPH_THRESHOLD, 0):
        monkeypatch.setattr(trav, "SMALL_GRAPH_THRESHOLD", threshold)
        got[threshold] = sorted(run(spark, e, cap).collect())
        with pytest.raises(RuntimeError,
                           match=f"{case} did not converge within "
                                 f"max_rounds={cap - 1}"):
            run(spark, e, cap - 1).collect()
    small, dist = got.values()
    assert len(small) == n_rows
    assert small == dist
