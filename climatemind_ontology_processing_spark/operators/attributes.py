"""Graph materialization: node attributes via broadcast dictionary join.

Reproduces ``make_graph_class.build_attributes_dict`` (:93-122) and its helper
passes as ONE broadcast hash join + column expressions, replacing the per-node
``onto.search_one(label=node)`` nested loop (:114) — SURVEY §2.3 J1.

Pass semantics covered:
* basic info (:124-127), direct/all classes (:129-144, A8 already precomputed
  in the dictionary's ``all_classes`` closure),
* per-superclass membership (:147-158) — kept as one MapType column
  (``super_class_membership``) so the schema is fixed; the reference's
  data-dependent "one attribute key per superclass label" (incl. its
  last-write-wins bug, SURVEY §4.1) is baked into the dictionary fixture,
* annotation/data property bags (:160-170),
* personal_values_19 / personal_values_10 with the A3 collapse (:172-291),
* political_value [conservative, liberal] (:293-304).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PERSONAL_VALUES_10, PERSONAL_VALUES_19, POLITICAL_KEYS
from ..functions.arrays import (compute_collapse, compute_collapse_local,
                               compute_conflict)


def graph_nodes(edges: DataFrame) -> DataFrame:
    """Node universe = distinct edge endpoints (the reference graph gets its
    nodes implicitly from ``add_edge``, ``make_graph_class.py:89-91``)."""
    return (edges.select(F.col("src").alias("label"))
            .unionByName(edges.select(F.col("dst").alias("label")))
            .distinct())


def _dp(col_name: str):
    """Nullable lookup into the data_properties map (absent key -> null,
    matching the reference's None-valued properties)."""
    return F.col("data_properties").getItem(col_name).cast("int")


# the four pv column expressions reference only the fixed column name
# "data_properties" and config constants, so the (large) expression trees
# are reusable across DataFrames; building them costs hundreds of py4j
# round trips (~0.5 s per build_graph rep measured) — cache the Columns
# once per process
_PV_COLS_CACHE: tuple | None = None


def _pv_cols() -> tuple:
    global _PV_COLS_CACHE
    if _PV_COLS_CACHE is None:
        pv19 = F.array(*[_dp(k) for k in PERSONAL_VALUES_19])
        pv10_slots = []
        conflict_flags = []
        for slot_name, keys in PERSONAL_VALUES_10:
            vec = F.array(*[_dp(k) for k in keys])
            pv10_slots.append(compute_collapse(vec) if len(keys) > 1
                              else _dp(keys[0]))
            if len(keys) > 1:
                conflict_flags.append(
                    F.when(compute_conflict(vec), F.lit(slot_name)))
        political = F.array(*[_dp(k) for k in POLITICAL_KEYS])
        conflicts = F.filter(F.array(*conflict_flags),
                             lambda x: x.isNotNull())
        _PV_COLS_CACHE = (pv19, F.array(*pv10_slots), political, conflicts)
    return _PV_COLS_CACHE


def with_personal_values(nodes: DataFrame) -> DataFrame:
    """A3 — pv19 vector, pv10 collapse, political vector.

    Conflicting {1, -1} pairs cannot raise per-row in a distributed job
    (reference raises at ``make_graph_class.py:290``); they yield null in the
    slot and are flagged in ``pv_conflicts`` for a post-hoc quarantine
    assertion (SURVEY §4).
    """
    pv19, pv10, political, conflicts = _pv_cols()
    return (nodes
            .withColumn("personal_values_19", pv19)
            .withColumn("personal_values_10", pv10)
            .withColumn("political_value", political)
            .withColumn("pv_conflicts", conflicts))


def attach_attributes(edges: DataFrame, concepts: DataFrame) -> DataFrame:
    """J1 — nodes ⨝ broadcast(concepts) on label, left outer (nodes missing
    from the dictionary keep null attributes, like the reference's failed
    ``search_one`` would crash — we quarantine instead), then A3 columns."""
    nodes = graph_nodes(edges)
    joined = nodes.join(F.broadcast(concepts), "label", "left")
    return with_personal_values(joined)


def attach_attributes_local(g_rows: list, concept_by_label: dict) -> dict:
    """Driver twin of :func:`attach_attributes` (``make_graph_class.py:93-304``)
    over G's (src, dst, type) rows and ``{label: concept row dict}``:
    ``{label: node dict}``; pv values truncate toward zero, as Spark's cast."""
    nodes = {}
    for label in dict.fromkeys(x for s, d, _t in g_rows for x in (s, d)):
        n = dict(concept_by_label.get(label) or {}, label=label)
        dp = n.get("data_properties") or {}
        v = {k: None if dp.get(k) is None else int(dp[k])
             for k in PERSONAL_VALUES_19 + POLITICAL_KEYS}
        pv10, conflicts = [], []
        for slot, keys in PERSONAL_VALUES_10:
            vec = [v[k] for k in keys]
            pv10.append(vec[0] if len(keys) == 1 else compute_collapse_local(vec))
            if len(keys) > 1 and 1 in vec and -1 in vec:
                conflicts.append(slot)
        n.update(personal_values_19=[v[k] for k in PERSONAL_VALUES_19],
                 personal_values_10=pv10,
                 political_value=[v[k] for k in POLITICAL_KEYS],
                 pv_conflicts=conflicts)
        nodes[label] = n
    return nodes
