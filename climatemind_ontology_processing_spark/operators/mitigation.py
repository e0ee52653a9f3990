"""G3/G7/O1 — upstream set, mitigation detection, CO2 ranking.

Reproduces ``make_graph_class.get_mitigations`` (:433-464) and
``add_mitigations`` (:466-513):

* upstream set (G3): ``nx.edge_dfs(B, root, orientation="reverse")`` visits
  every edge whose TARGET is reverse-reachable from the root over ANY edge
  type; nodes on ``causes_or_promotes`` edges among those are collected.
  Spark: reverse BFS node set R (any type), then both endpoints of causes
  edges with dst ∈ R.
* mitigations (G7): out-edges of upstream nodes with the inhibit type ->
  distinct targets (:459-463).
* ranking (O1): sort by data_properties["CO2_eq_reduced"] descending; nodes
  whose CO2 value is falsy (null OR 0 — the reference's truthiness test at
  :478) are appended after all ranked ones (:487-493).

Ordering divergence (documented): the reference's tail order is Python
set-iteration order (hash-randomized, not reproducible across its own runs);
we canonicalize with label-ascending tiebreaks (SURVEY §2.5 O1 note).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CAUSES, GREENHOUSE_EFFECT, INHIBITS
from .traversal import (_MAX_ROUNDS, _reach_local, bfs_reachable,
                        typed_adjacency)


def upstream_nodes(edges_b: DataFrame, root: str = GREENHOUSE_EFFECT) -> DataFrame:
    """G3 — DataFrame[id] of nodes on causes-edges upstream of ``root``."""
    reached = bfs_reachable(edges_b, [root], direction="reverse", edge_type=None)
    causes = edges_b.filter(F.col("type") == CAUSES) \
        .join(reached.withColumnRenamed("id", "dst"), "dst", "left_semi")
    return (causes.select(F.col("src").alias("id"))
            .unionByName(causes.select(F.col("dst").alias("id")))
            .distinct())


def upstream_local(b_rows: list, root: str = GREENHOUSE_EFFECT) -> set:
    """Driver twin of :func:`upstream_nodes` over B's (src, dst, type)
    rows: reverse reach of ``root`` over any edge type, then both
    endpoints of the causes edges that land in it."""
    reached = {v for _, v in _reach_local(typed_adjacency(b_rows, "reverse"),
                                          [(root, root)], _MAX_ROUNDS,
                                          "bfs_reachable")}
    return {x for s, d, t in b_rows if t == CAUSES and d in reached
            for x in (s, d)}


def mitigation_solutions(edges_b: DataFrame, root: str = GREENHOUSE_EFFECT,
                         ups: DataFrame | None = None) -> DataFrame:
    """G7 — DataFrame[id]: inhibit-edge targets of upstream nodes.  Pass a
    precomputed upstream set to avoid recomputing the BFS."""
    if ups is None:
        ups = upstream_nodes(edges_b, root)
    return (edges_b.filter(F.col("type") == INHIBITS)
            .join(ups.withColumnRenamed("id", "src"), "src", "left_semi")
            .select(F.col("dst").alias("id")).distinct())


def mitigations_local(b_rows: list, ups: set) -> list:
    """Driver twin of :func:`mitigation_solutions`: sorted inhibit-edge
    targets of the upstream set ``ups``."""
    return sorted({d for s, d, t in b_rows if t == INHIBITS and s in ups})


def rank_mitigations(mitigations: DataFrame, nodes: DataFrame) -> DataFrame:
    """O1 — ranked mitigation list: (id, co2, rank).

    NULLS-LAST on the truthy CO2 value (null and 0 both count as "no CO2
    data", per the reference's ``if ... and co2`` truthiness), CO2 descending,
    label ascending as the deterministic tiebreak.
    """
    co2 = nodes.select(
        F.col("label").alias("id"),
        F.col("data_properties").getItem("CO2_eq_reduced").alias("co2"))
    ranked = mitigations.join(co2, "id", "left")
    truthy = F.when(F.col("co2").isNotNull() & (F.col("co2") != 0), F.col("co2"))
    return (ranked.withColumn("_key", truthy)
            .orderBy(F.col("_key").isNull().asc(), F.col("_key").desc(),
                     F.col("id").asc())
            .select("id", "co2"))


def rank_mitigations_local(mit_ids: list, dp_by_label: dict) -> list:
    """Driver replica of :func:`rank_mitigations`' ordering for the
    small-graph path: same truthy-CO2 key (null and 0 last), CO2
    descending with NaN greatest (Spark double order), label ascending.
    ``dp_by_label`` maps label -> data_properties dict (missing label ==
    the left join's null row).  Equivalence pinned in
    tests/test_small_path_equivalence.py."""
    import math

    def key(i):
        co2 = (dp_by_label.get(i) or {}).get("CO2_eq_reduced")
        k = co2 if (co2 is not None and co2 != 0) else None
        if k is None:
            return (1, 0.0, i)
        if isinstance(k, float) and math.isnan(k):
            return (0, float("-inf"), i)
        return (0, -k, i)

    return sorted(mit_ids, key=key)
