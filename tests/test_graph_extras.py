"""Round-5 graph additions: HITS, integer-exact neighborhood aggregation,
deterministic random walks, incremental connected components."""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _hits_reference(edge_list, rounds):
    """Pure-Python replica of graphstats.hits (L2-normalized synchronous
    rounds) — the parity reference."""
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    auth = {n: 1.0 for n in nodes}
    hub = {n: 1.0 for n in nodes}
    for _ in range(rounds):
        new_auth = {n: 0.0 for n in nodes}
        for u, v in edge_list:
            new_auth[v] += hub[u]
        nrm = math.sqrt(sum(x * x for x in new_auth.values()))
        auth = {n: (x / nrm if nrm > 0 else 0.0)
                for n, x in new_auth.items()}
        new_hub = {n: 0.0 for n in nodes}
        for u, v in edge_list:
            new_hub[u] += auth[v]
        nrm = math.sqrt(sum(x * x for x in new_hub.values()))
        hub = {n: (x / nrm if nrm > 0 else 0.0) for n, x in new_hub.items()}
    return auth, hub


def test_hits_matches_reference_and_separates_roles(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        hits)
    # 1,2,3 are hubs pointing at authorities 10,11; 3 also cites 12
    el = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 12), (4, 12)]
    edges = spark.createDataFrame(el, "src long, dst long")
    got = {r.id: (r.authority, r.hub) for r in hits(edges, rounds=3).collect()}
    ref_auth, ref_hub = _hits_reference(el, 3)
    for n in ref_auth:
        assert got[n][0] == pytest.approx(ref_auth[n], abs=1e-9)
        assert got[n][1] == pytest.approx(ref_hub[n], abs=1e-9)
    # pure hubs have ~0 authority, the best-cited node has the max
    assert got[1][0] == pytest.approx(0.0)
    assert max(got, key=lambda n: got[n][0]) == 10
    assert max(got, key=lambda n: got[n][1]) in (1, 2)
    with pytest.raises(ValueError):
        hits(edges, rounds=0)


def test_neighborhood_mean_integer_exact(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        neighborhood_mean)
    # path 1-2-3 plus leaf 4 on 2 (undirected)
    edges = spark.createDataFrame([(1, 2), (2, 3), (2, 4)],
                                  "src long, dst long")
    f0 = {n: (n % 97) * 1_000_000 for n in (1, 2, 3, 4)}
    # round 1: mean over neighbors, integer floor division
    f1 = {1: f0[2] // 1, 2: (f0[1] + f0[3] + f0[4]) // 3,
          3: f0[2] // 1, 4: f0[2] // 1}
    f2 = {1: f1[2] // 1, 2: (f1[1] + f1[3] + f1[4]) // 3,
          3: f1[2] // 1, 4: f1[2] // 1}
    got = {r.id: r.f_micro
           for r in neighborhood_mean(edges, rounds=2).collect()}
    assert got == f2


def test_random_walks_valid_deterministic_and_sink_stops(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        random_walks)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (2, 4)],  # 4 is a sink
        "src long, dst long")
    e_set = {(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (2, 4)}
    for fam in ("md5_60", "xxhash64"):
        rows = random_walks(edges, length=5, hash_family=fam).collect()
        walks: dict = {}
        for r in rows:
            walks.setdefault(r.start, {})[r.step] = r.node
        # a walk starts at every node WITH out-edges, at step 0 = itself
        assert set(walks) == {1, 2, 3}
        for s, w in walks.items():
            assert w[0] == s
            steps = sorted(w)
            assert steps == list(range(len(steps)))  # no gaps
            for t in steps[1:]:
                assert (w[t - 1], w[t]) in e_set    # every hop is an edge
            if w[max(steps)] == 4:
                assert max(steps) < 5 or w[5] == 4  # sink ended the walk
        again = random_walks(edges, length=5, hash_family=fam).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_merge_components_equals_full_recompute(spark):
    from climatemind_ontology_processing_spark.operators.canonicalize import (
        connected_components, merge_components)

    def cc_dict(edges):
        return {r.id: r.component
                for r in connected_components(edges).collect()}

    s = "src string, dst string"
    base = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "g"), ("h", "h2")], s)
    # batch: links two existing components (d-e with f-g), extends one
    # (c-x new node), and adds a fully new component (p-q)
    delta = spark.createDataFrame(
        [("e", "f"), ("c", "x"), ("p", "q")], s)
    labels = connected_components(base)
    got = {r.id: r.component
           for r in merge_components(labels, delta).collect()}
    full = cc_dict(base.unionByName(delta))
    assert got == full
    assert got["g"] == got["d"] == "d"      # merged across the batch edge
    assert got["x"] == "a" and got["p"] == got["q"] == "p"

    # second increment stacks on the merged labels
    delta2 = spark.createDataFrame([("q", "h")], s)
    labels2 = spark.createDataFrame(list(got.items()), "id string, component string")
    got2 = {r.id: r.component
            for r in merge_components(labels2, delta2).collect()}
    full2 = cc_dict(base.unionByName(delta).unionByName(delta2))
    assert got2 == full2


def test_gopher_rules_flags(spark):
    """Each Gopher rule flag fires on its planted violation and nowhere
    else; integer cross-multiplication semantics at the boundaries."""
    from climatemind_ontology_processing_spark.operators.textstats import (
        gopher_rules)
    good = ("the data and the model have to be of good size with that "
            "said " * 5).strip()                       # 55 words, stopwordy
    rows = [
        (1, good),
        (2, "tiny doc of the and"),                    # word count fails
        (3, good + "\n" + "\n".join(f"- bullet {i}" for i in range(20))),
        (4, good + "\n" + "\n".join(f"line {i}..." for i in range(20))),
        (5, good + " " + "#tag " * 40),                # symbol ratio
        (6, ("12 34 56 78 90 " * 11).strip()),         # no alpha words
        (7, "zzz qqq www eee rrr ttt yyy uuu iii ooo " * 6),  # no stopwords
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_rules(docs, min_words=30).collect()}
    assert got[1].passes == 1 and all(
        v == 1 for k, v in got[1].asDict().items() if k.startswith("flag_"))
    assert got[2].flag_word_count == 0 and got[2].passes == 0
    assert got[3].flag_bullets == 0 and got[3].passes == 0
    assert got[4].flag_ellipsis == 0 and got[4].passes == 0
    assert got[5].flag_symbol_ratio == 0 and got[5].passes == 0
    assert got[6].flag_alpha_words == 0 and got[6].passes == 0
    assert got[7].flag_stop_words == 0 and got[7].passes == 0


def test_write_training_shards_complete_and_idempotent(spark, tmp_path):
    """Every shard directory contains exactly the docs its sequences read
    (straddling docs in BOTH shards); rerun rewrites instead of
    duplicating (dynamic partition overwrite)."""
    from climatemind_ontology_processing_spark.operators.packing import (
        packed_spans, write_training_shards)
    # seq_len 10, 4 seqs/shard -> shard = 40-token blocks; doc sizes force
    # a straddle: 25+1, 12+1, 30+1 tokens -> offsets 0, 26, 39
    docs = spark.createDataFrame(
        [(1, "a " * 25), (2, "b " * 12), (3, "c " * 30)],
        "doc_id long, text string")
    toks = docs.select("doc_id", F.size(F.split(F.trim("text"), r"\s+"))
                       .alias("n_tokens"))
    spans = packed_spans(toks, seq_len=10)
    out = str(tmp_path / "shards")
    manifest = write_training_shards(docs, spans, out, seqs_per_shard=4)
    m = {r.shard: (r.n_docs, r.n_tokens) for r in manifest.collect()}
    # doc3 spans tokens [39, 70) -> seqs 3..6 -> shards 0 AND 1
    assert set(m) == {0, 1}
    rows = spark.read.parquet(out).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, set()).add(r.doc_id)
    assert by_shard[0] == {1, 2, 3} and by_shard[1] == {3}
    # idempotent rerun: same rows, not doubled
    write_training_shards(docs, spans, out, seqs_per_shard=4)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == \
        sorted(map(tuple, rows))


def test_scd2_compact_runs(spark):
    """Value runs compact correctly: flip-back creates a NEW run; no-change
    observations vanish; valid_to chains to the next run's first key."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        scd2_compact)
    obs = spark.createDataFrame(
        [(1, "O", 1), (1, "O", 2), (1, "F", 3), (1, "O", 4), (1, "O", 5),
         (2, "P", 1)],
        "k long, v string, t long")
    runs = scd2_compact(obs, keys=("k",), val_col="v", order_cols=("t",))
    got = sorted((r.k, r.v, r.t,
                  r._valid_to.t if r._valid_to else None, r.is_current)
                 for r in runs.collect())
    assert got == [(1, "F", 3, 4, 0), (1, "O", 1, 3, 0), (1, "O", 4, None, 1),
                   (2, "P", 1, None, 1)]


def test_negative_triples_filtered_and_deterministic(spark):
    from climatemind_ontology_processing_spark.operators.negatives import (
        negative_triples)
    rows = [(a, "r", b) for a in range(6) for b in range(6)
            if a != b and (a + b) % 3 == 0]
    trip = spark.createDataFrame(rows, "subj long, pred string, obj long")
    for fam in ("md5_60", "xxhash64"):
        out = negative_triples(trip, k=3, buckets=4, hash_family=fam)
        got = out.collect()
        ents = {a for a, _, _ in rows} | {b for _, _, b in rows}
        true = set((a, b) for a, _, b in rows)
        per_trip: dict = {}
        for r in got:
            assert r.o_neg in ents            # picks come from the vocab
            assert r.o_neg != r.obj           # never the true tail
            assert (r.subj, r.o_neg) not in true   # filtered negatives
            per_trip.setdefault((r.subj, r.obj), set()).add(r.j)
        assert all(len(js) <= 3 for js in per_trip.values())
        assert len(got) > 0
        again = negative_triples(trip, k=3, buckets=4, hash_family=fam)
        assert sorted(map(tuple, got)) == sorted(map(tuple, again.collect()))
    with pytest.raises(ValueError):
        negative_triples(trip, k=0)


def test_k_truss_peeling_and_guards(spark):
    """The 4-truss keeps K5's edges, peels the pendant triangle chain
    (cascade), returns everything for k=2, and the round cap raises."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        k_truss)
    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    # chain of triangles hanging off node 0: each edge in exactly 1 triangle
    tail = [(0, 10), (0, 11), (10, 11), (11, 12), (11, 13), (12, 13)]
    edges = spark.createDataFrame(k5 + tail, "src long, dst long")
    got = {(r.lo, r.hi) for r in k_truss(edges, k=4).collect()}
    assert got == set(k5)                  # K5 edges: support 3 >= 2
    all_edges = {(r.lo, r.hi) for r in k_truss(edges, k=2).collect()}
    assert all_edges == set(k5 + tail)     # k=2: no support needed
    assert k_truss(edges, k=9).count() == 0  # nothing that cohesive
    with pytest.raises(ValueError):
        k_truss(edges, k=1)
    with pytest.raises(RuntimeError, match="max_rounds"):
        k_truss(edges, k=4, max_rounds=1)  # cascade needs >1 round


def test_k_truss_converges_when_every_edge_peels(spark):
    """A round that peels every edge leaves nothing to peel: a lone edge
    (no triangle) gives an empty 3-truss at ``max_rounds=1``, and one
    round less raises."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        k_truss)
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    assert k_truss(edges, k=3, max_rounds=1).count() == 0
    with pytest.raises(RuntimeError,
                       match="k_truss did not converge within max_rounds=0"):
        k_truss(edges, k=3, max_rounds=0)


def test_temperature_mix_quotas_and_exact_total(spark):
    """Hand-computed Hamilton apportionment: strata of 100/25/4 rows at
    alpha=0.5 and total_k=26 give weights 10:5:2 -> bases 15/7/3, the one
    leftover goes to the largest remainder (B) -> quotas 15/8/3; the mix
    returns exactly those counts and is deterministic."""
    from climatemind_ontology_processing_spark.operators.sampling import (
        temperature_mix, temperature_quotas)
    rows = ([(i, "A") for i in range(100)]
            + [(1000 + i, "B") for i in range(25)]
            + [(2000 + i, "C") for i in range(4)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    q = {r.stratum: r.quota
         for r in temperature_quotas(df, "lang", 26, alpha=0.5).collect()}
    assert q == {"A": 15, "B": 8, "C": 3}
    out = temperature_mix(df, "lang", 26, key="doc_id", alpha=0.5).collect()
    by = {}
    for r in out:
        by[r.lang] = by.get(r.lang, 0) + 1
    assert by == q and len(out) == 26
    again = temperature_mix(df, "lang", 26, key="doc_id", alpha=0.5).collect()
    assert sorted(r.doc_id for r in out) == sorted(r.doc_id for r in again)
    # alpha=1 is proportional: A gets ~100/129 of 26
    q1 = {r.stratum: r.quota
          for r in temperature_quotas(df, "lang", 26, alpha=1.0).collect()}
    assert q1["A"] > q["A"] and sum(q1.values()) == 26
    # a tiny stratum's quota may exceed its rows; the mix yields min(n, q)
    q2 = {r.stratum: r.quota
          for r in temperature_quotas(df, "lang", 120, alpha=0.5).collect()}
    assert q2["C"] > 4
    out2 = temperature_mix(df, "lang", 120, key="doc_id", alpha=0.5).collect()
    assert sum(1 for r in out2 if r.lang == "C") == 4
    with pytest.raises(ValueError):
        temperature_quotas(df, "lang", 0)
    with pytest.raises(ValueError):
        temperature_quotas(df, "lang", 10, alpha=0.0)


def test_skipgram_pairs_window_semantics(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        skipgram_pairs)
    # walk A: 1-2-3-4 ; walk B: 2-3-2 (repeat visits pool counts)
    W = [("A", 0, 1), ("A", 1, 2), ("A", 2, 3), ("A", 3, 4),
         ("B", 0, 2), ("B", 1, 3), ("B", 2, 2)]
    df = spark.createDataFrame(W, "start string, step int, node int")
    got = {(r.center, r.context): r.n_pairs
           for r in skipgram_pairs(df, window=2).collect()}

    exp = {}
    from collections import defaultdict
    walks = defaultdict(list)
    for w, s, n in W:
        walks[w].append((s, n))
    for seq in walks.values():
        for sc, c in seq:
            for sx, x in seq:
                if sc != sx and abs(sc - sx) <= 2:
                    exp[(c, x)] = exp.get((c, x), 0) + 1
    assert got == exp
    # symmetric by construction
    assert got[(1, 3)] == got[(3, 1)] == 1
    # (2,3): A contributes 1 (steps 1->2), B contributes 2 (both 2-visits)
    assert got[(2, 3)] == 3
    import pytest as _pytest
    with _pytest.raises(ValueError):
        skipgram_pairs(df, window=0)


# ---------------------------------------------------------------------------
# butterfly_counts — bipartite 4-cycle counting
# ---------------------------------------------------------------------------
def _butterflies_reference(edge_list):
    """Brute-force per-v-node butterfly counts: for every v-pair, C(common
    u-neighbors, 2) added to both members."""
    from collections import defaultdict
    from itertools import combinations
    nbrs = defaultdict(set)
    for u, v in edge_list:
        nbrs[v].add(u)
    counts = {v: 0 for v in nbrs}
    for v1, v2 in combinations(sorted(nbrs), 2):
        c = len(nbrs[v1] & nbrs[v2])
        b = c * (c - 1) // 2
        counts[v1] += b
        counts[v2] += b
    return counts


def test_butterfly_counts_closed_form(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        butterfly_counts)
    # u 1,2,3 all connect to a and b -> pair (a,b) has c=3 -> C(3,2)=3
    # butterflies each; c has one edge, no butterfly.
    edges = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "b"),
             (1, "c")]
    df = spark.createDataFrame(edges, "u int, v string")
    got = {r.id: r.n_butterflies for r in butterfly_counts(df).collect()}
    assert got == {"a": 3, "b": 3, "c": 0}


def test_butterfly_counts_matches_brute_force(spark):
    """Deterministic pseudo-random bipartite graph vs the pure-Python
    reference; duplicate edge rows must not inflate counts."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        butterfly_counts)
    edges = [(u, f"v{(u * 7 + k) % 13}") for u in range(30)
             for k in range(4)]
    edges += edges[:10]  # duplicates
    df = spark.createDataFrame(edges, "u int, v string")
    got = {r.id: r.n_butterflies for r in butterfly_counts(df).collect()}
    assert got == _butterflies_reference(set(edges))


def test_butterfly_hub_cap_is_lower_bound(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        butterfly_counts)
    # hub u=0 connects to 6 v-nodes; capping at degree 5 excludes it
    edges = [(0, f"v{i}") for i in range(6)] + \
            [(1, "v0"), (1, "v1"), (2, "v0"), (2, "v1")]
    df = spark.createDataFrame(edges, "u int, v string")
    full = {r.id: r.n_butterflies for r in butterfly_counts(df).collect()}
    capped = {r.id: r.n_butterflies
              for r in butterfly_counts(df, max_hub_degree=5).collect()}
    assert set(capped) == set(full)  # nodes kept, counts capped
    assert all(capped[k] <= full[k] for k in full)
    assert capped["v0"] == 1  # only the (1,2) wedge pair remains


# ---------------------------------------------------------------------------
# quotient_graph — label rollup summarization
# ---------------------------------------------------------------------------
def test_quotient_graph_rollup(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        quotient_graph)
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3), (2, 3), (3, 1), (4, 4)],
        "src int, dst int")
    labels = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (4, "B")], "id int, label string")
    got = {(r.g_src, r.g_dst): (r.n_edges, r.n_pairs)
           for r in quotient_graph(edges, labels).collect()}
    assert got == {("A", "A"): (2, 1),   # 1->2 twice, one distinct pair
                   ("A", "B"): (2, 2),   # 1->3, 2->3
                   ("B", "A"): (1, 1),   # 3->1
                   ("B", "B"): (1, 1)}   # self-loop 4->4 kept


def test_quotient_graph_unlabeled_node_raises(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        quotient_graph)
    edges = spark.createDataFrame([(1, 9)], "src int, dst int")
    labels = spark.createDataFrame([(1, "A")], "id int, label string")
    with pytest.raises(Exception, match="unlabeled node"):
        quotient_graph(edges, labels).collect()


# ---------------------------------------------------------------------------
# lt_cascade — deterministic linear-threshold influence spread
# ---------------------------------------------------------------------------
def _lt_replica(edges, seeds, theta_micro):
    from collections import defaultdict
    tot = defaultdict(int)
    for u, v, w in edges:
        if u != v:
            tot[v] += w
    active = {s: 0 for s in seeds}
    rnd = 0
    while True:
        rnd += 1
        aw = defaultdict(int)
        for u, v, w in edges:
            if u != v and u in active:
                aw[v] += w
        fresh = [v for v, a in aw.items()
                 if v not in active and a * 10 ** 6 >= theta_micro * tot[v]]
        if not fresh:
            return active
        for v in fresh:
            active[v] = rnd


def test_lt_cascade_matches_replica(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        lt_cascade)
    edges = [((i * 3) % 12, (i * 7 + 1) % 12, (i * 13) % 50 + 1)
             for i in range(40)]
    seeds = [0, 1]
    edf = spark.createDataFrame(edges, "src int, dst int, w int")
    sdf = spark.createDataFrame([(s,) for s in seeds], "id int")
    got = {r.id: r.round for r in lt_cascade(edf, sdf).collect()}
    assert got == _lt_replica(set(edges), seeds, 500_000)


def test_lt_cascade_chain_rounds_and_threshold(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        lt_cascade)
    # chain 0->1->2->3 with single in-edges: full cascade, one hop/round
    edges = [(0, 1, 10), (1, 2, 10), (2, 3, 10), (9, 2, 30)]
    edf = spark.createDataFrame(edges, "src int, dst int, w int")
    sdf = spark.createDataFrame([(0,)], "id int")
    got = {r.id: r.round for r in lt_cascade(edf, sdf).collect()}
    # node 2's total in-weight is 40; active weight from 1 is only 10
    # -> 25% < 50% threshold: cascade stops at node 1
    assert got == {0: 0, 1: 1}
    low = {r.id: r.round
           for r in lt_cascade(edf, sdf, theta_micro=250_000).collect()}
    assert low == {0: 0, 1: 1, 2: 2, 3: 3}


def test_lt_cascade_guards(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        lt_cascade)
    edf = spark.createDataFrame([(0, 1, 0)], "src int, dst int, w int")
    sdf = spark.createDataFrame([(0,)], "id int")
    with pytest.raises(ValueError, match="positive integral"):
        lt_cascade(edf, sdf)
    edf2 = spark.createDataFrame([(0, 1, 5), (1, 2, 5)],
                                 "src int, dst int, w int")
    with pytest.raises(RuntimeError, match="lt_cascade did not converge "
                                           "within max_rounds=1"):
        lt_cascade(edf2, sdf, max_rounds=1)


# ---------------------------------------------------------------------------
# coreness — full core decomposition via H-index iteration
# ---------------------------------------------------------------------------
def test_coreness_matches_networkx(spark):
    import networkx as nx
    from climatemind_ontology_processing_spark.operators.graphstats import (
        coreness)
    edges = [((i * 7) % 25, (i * 11 + 3) % 25) for i in range(70)]
    g = nx.Graph((u, v) for u, v in edges if u != v)
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r.id: r.coreness for r in coreness(df).collect()}
    assert got == nx.core_number(g)


def test_coreness_clique_plus_tail(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        coreness)
    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    tail = [(3, 10), (10, 11)]
    df = spark.createDataFrame(clique + tail, "src int, dst int")
    got = {r.id: r.coreness for r in coreness(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1}


def test_coreness_cap_raises(spark):
    from climatemind_ontology_processing_spark.operators.graphstats import (
        coreness)
    df = spark.createDataFrame([(i, i + 1) for i in range(6)],
                               "src int, dst int")
    with pytest.raises(RuntimeError, match="did not converge"):
        coreness(df, max_rounds=1)


def test_nominal_assortativity_closed_forms(spark):
    from fractions import Fraction
    from climatemind_ontology_processing_spark.operators.graphstats import (
        nominal_assortativity)
    labels = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "y")], "id int, label string")
    # perfectly assortative: every edge intra-label -> r = 1
    intra = spark.createDataFrame([(1, 2, ), (2, 1), (3, 4)],
                                  "src int, dst int")
    r = nominal_assortativity(intra, labels).collect()[0]
    assert Fraction(int(r.r_num), int(r.r_den)) == 1
    # perfectly disassortative 2-label case -> r = -1
    inter = spark.createDataFrame([(1, 3), (3, 1), (2, 4), (4, 2)],
                                  "src int, dst int")
    r = nominal_assortativity(inter, labels).collect()[0]
    assert Fraction(int(r.r_num), int(r.r_den)) == -1


def test_nominal_assortativity_matches_networkx(spark):
    import networkx as nx
    from climatemind_ontology_processing_spark.operators.graphstats import (
        nominal_assortativity)
    edges = [((i * 3) % 10, (i * 7 + 1) % 10) for i in range(25)]
    edges = [(u, v) for u, v in edges if u != v]
    lab = {n: "abc"[n % 3] for n in range(10)}
    g = nx.DiGraph()
    g.add_edges_from(set(edges))
    nx.set_node_attributes(g, lab, "l")
    want = nx.attribute_assortativity_coefficient(g, "l")
    df = spark.createDataFrame(sorted(set(edges)), "src int, dst int")
    ldf = spark.createDataFrame(sorted(lab.items()), "id int, label string")
    r = nominal_assortativity(df, ldf).collect()[0]
    assert abs(int(r.r_num) / int(r.r_den) - want) < 1e-12
