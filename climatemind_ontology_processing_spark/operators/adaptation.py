"""G4/G5/G8 — downstream set, simple-path node collection, adaptations.

Reproduces ``make_graph_class.process_node_identity`` (:515-559):

* G4: ``nx.dfs_edges(B, root)`` flattened = forward-reachable node set from
  the root over ANY edge type (dfs_edges ignores edge type, unlike the
  upstream pass — SURVEY §2.7 G4 note), root included.
* G5: for each downstream node e, the nodes on any simple path root -> e.
  The reference enumerates ``nx.all_simple_paths`` (exponential); on the
  acyclic graph B this set is exactly {n : reach(root, n) ∧ reach(n, e)}
  (reflexive closure — ``all_simple_paths(r, r)`` yields [[r]]), so we compute
  ONE transitive closure restricted to the downstream component and take the
  reachability product (SURVEY §4 "transitive closure").  This equivalence
  REQUIRES B acyclic — a validated invariant, not an assumption: the rule cut
  does not guarantee it on web triples, so ``acyclic.residual_cycle_pairs``
  must be empty before trusting G5 output (pinned on the golden graph in
  tests/test_graph_parity.py; production runs quarantine non-empty results).
* G8: per effect node e, adaptation solutions = inhibit-type out-neighbors
  (queried on the PRE-cut graph G, :533-540 — the G/B split) of e's
  intermediate nodes, deduped.

Output: (effect_id, adaptation array) pairs + the total adaptation node set.
Arrays canonicalized label-ascending (reference order is dict-insertion order
of a traversal — see edge_props.py ordering note).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import GREENHOUSE_EFFECT, INHIBITS
from .traversal import (_MAX_ROUNDS, _reach_local, bfs_reachable,
                        transitive_closure, typed_adjacency)


def downstream_nodes(edges_b: DataFrame, root: str = GREENHOUSE_EFFECT) -> DataFrame:
    """G4 — DataFrame[id] forward-reachable from root over any edge type."""
    return bfs_reachable(edges_b, [root], direction="forward", edge_type=None)


def _local_pairs(b_rows: list, root: str) -> list[tuple]:
    """Driver twin of :func:`intermediate_pairs` over B's (src, dst, type)
    rows: the same reachability product — reflexive closure of the
    downstream-restricted subgraph, filtered to sources reachable from the
    root."""
    fwd = typed_adjacency(b_rows)
    down = {v for _, v in _reach_local(fwd, [(root, root)], _MAX_ROUNDS,
                                       "bfs_reachable")}
    sub = {u: [v for v in vs if v in down] for u, vs in fwd.items()
           if u in down}
    nodes = {u for u, vs in sub.items() if vs} | {
        v for vs in sub.values() for v in vs}
    reach = _reach_local(sub, [(n, n) for n in nodes], _MAX_ROUNDS,
                         "transitive_closure")  # reflexive
    return [(m, n) for n, m in sorted(reach) if (root, n) in reach]


def intermediate_pairs(edges_b: DataFrame,
                       root: str = GREENHOUSE_EFFECT) -> DataFrame:
    """G5 — (effect, intermediate) pairs: intermediate lies on a simple path
    root -> effect in B.  One closure computation serves every effect node."""
    down = downstream_nodes(edges_b, root)
    # restrict closure to the downstream component (everything on a
    # root->e path is itself downstream)
    sub = (edges_b
           .join(down.withColumnRenamed("id", "src"), "src", "left_semi")
           .join(down.withColumnRenamed("id", "dst"), "dst", "left_semi"))
    closure = transitive_closure(sub)  # reflexive, any edge type
    from_root = closure.filter(F.col("src") == root) \
                       .select(F.col("dst").alias("intermediate"))
    return (closure
            .join(F.broadcast(from_root),
                  closure.src == F.col("intermediate"), "left_semi")
            .select(F.col("dst").alias("effect"),
                    F.col("src").alias("intermediate"))
            .join(down.withColumnRenamed("id", "effect"), "effect", "left_semi"))


def adaptation_solutions(edges_g: DataFrame, edges_b: DataFrame,
                         root: str = GREENHOUSE_EFFECT) -> DataFrame:
    """G8 — (effect, adaptation_solutions array<string>) per downstream node.

    Inhibit edges come from the PRE-cut graph G; path structure from B.
    Effects whose intermediates have no inhibit out-edges get an empty array
    (the reference sets an empty list attribute too, :546-548).
    """
    pairs = intermediate_pairs(edges_b, root)
    inhib = edges_g.filter(F.col("type") == INHIBITS) \
        .select(F.col("src").alias("intermediate"), F.col("dst").alias("solution"))
    sols = (pairs.join(inhib, "intermediate")
            .select("effect", "solution").distinct())
    all_effects = pairs.select("effect").distinct()
    return (all_effects.join(sols, "effect", "left")
            .groupBy("effect")
            .agg(F.array_sort(F.filter(F.collect_set("solution"),
                                       lambda x: x.isNotNull()))
                 .alias("adaptation_solutions")))


def adaptations_local(g_rows: list, b_rows: list,
                      root: str = GREENHOUSE_EFFECT) -> list[tuple]:
    """Driver twin of :func:`adaptation_solutions` over G's and B's
    (src, dst, type) rows: sorted (effect, sorted solutions) pairs."""
    inhib: dict = {}
    for s, d, t in g_rows:
        if t == INHIBITS:
            inhib.setdefault(s, set()).add(d)
    sols: dict = {}
    for effect, inter in _local_pairs(b_rows, root):
        sols.setdefault(effect, set()).update(inhib.get(inter, ()))
    return [(e, sorted(vs)) for e, vs in sorted(sols.items())]


def total_adaptation_nodes(adaptations: DataFrame) -> DataFrame:
    """DataFrame[id] — union of all adaptation solutions
    (``make_graph_class.py:558`` accumulator; duplicates irrelevant, used as a
    subgraph node set)."""
    return (adaptations
            .select(F.explode("adaptation_solutions").alias("id"))
            .distinct())
