"""J4/A6/O2 — myth processing (``process_myths.py:19-106``).

A myth node is one carrying the "myth" attribute key
(``process_myths.py:24`` — in the dictionary this is a
``super_class_membership`` key).  For every ``is_a_myth_about`` out-edge of a
myth:

* target has the "risk solution" key      -> myth joins target's solution_myths
* target in downstream-adaptations set    -> myth joins target's impact_myths
* target in the upstream set              -> myth joins the GLOBAL general
  myths list, deduped and sorted by data_properties["myth_frequency"]
  descending (O2, ``process_myths.py:80-95``), attached to the root node.

Myth sources (A6): flatten the myth's 8 source-type URL lists, first-occurrence
dedup (``process_myths.py:58-78``).

Membership tests are left-semi joins; per-target myth lists are collect_set
aggregations canonicalized label-ascending (reference order is iteration
order, see edge_props.py ordering note).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import MYTH_ABOUT
from ..functions.arrays import flatten_source_lists, flatten_source_lists_local

MYTH_KEY = "myth"
RISK_SOLUTION_KEY = "risk solution"


def myth_nodes(nodes: DataFrame) -> DataFrame:
    """P8 — nodes carrying the myth attribute key."""
    return nodes.filter(
        F.col("super_class_membership").isNotNull() &
        F.map_contains_key(F.col("super_class_membership"), MYTH_KEY))


def has_key(node: dict, key: str) -> bool:
    """``map_contains_key(super_class_membership, key)`` on a node dict."""
    return key in (node.get("super_class_membership") or {})


def myth_edges(edges_g: DataFrame, nodes: DataFrame) -> DataFrame:
    """(myth, target) pairs over is_a_myth_about out-edges of myth nodes."""
    myths = myth_nodes(nodes).select(F.col("label").alias("myth"))
    return (edges_g.filter(F.col("type") == MYTH_ABOUT)
            .join(F.broadcast(myths), edges_g.src == F.col("myth"), "left_semi")
            .select(F.col("src").alias("myth"), F.col("dst").alias("target")))


def solution_and_impact_myths(edges_g: DataFrame, nodes: DataFrame,
                              downstream_adaptation_ids: DataFrame
                              ) -> DataFrame:
    """(target, solution_myths array, impact_myths array) — empty arrays where
    a category doesn't apply but the other does."""
    me = myth_edges(edges_g, nodes)
    risk = nodes.filter(
        F.col("super_class_membership").isNotNull() &
        F.map_contains_key("super_class_membership", RISK_SOLUTION_KEY)
    ).select(F.col("label").alias("target"))

    tagged = me.join(
        F.broadcast(risk.withColumn("_is_risk", F.lit(True))),
        "target", "left")
    down = downstream_adaptation_ids.select(
        F.col(downstream_adaptation_ids.columns[0]).alias("target"))
    tagged = tagged.join(down.withColumn("_is_down", F.lit(True)),
                         "target", "left")
    return (tagged.groupBy("target")
            .agg(
                F.array_sort(F.collect_set(
                    F.when(F.col("_is_risk"), F.col("myth")))).alias("solution_myths"),
                F.array_sort(F.collect_set(
                    F.when(F.col("_is_down"), F.col("myth")))).alias("impact_myths"))
            .filter((F.size("solution_myths") > 0) | (F.size("impact_myths") > 0)))


def solution_and_impact_myths_local(g_rows: list, nodes: dict,
                                    downstream_adaptation_ids) -> list:
    """Driver twin of :func:`solution_and_impact_myths`
    (``process_myths.py:27-50``) over G's (src, dst, type, ...) rows and
    ``{label: node dict}``: (target, solution_myths, impact_myths) rows."""
    down = set(downstream_adaptation_ids)
    cats: dict = {}
    for s, d, t, *_ in g_rows:
        if t == MYTH_ABOUT and has_key(nodes[s], MYTH_KEY):
            sol, imp = cats.setdefault(d, (set(), set()))
            if has_key(nodes[d], RISK_SOLUTION_KEY):
                sol.add(s)
            if d in down:
                imp.add(s)
    return [(d, sorted(sol), sorted(imp)) for d, (sol, imp) in cats.items()
            if sol or imp]


def general_myths_ranked(edges_g: DataFrame, nodes: DataFrame,
                         upstream_ids: DataFrame) -> DataFrame:
    """O2 — (myth, myth_frequency) sorted by frequency desc, label asc."""
    me = myth_edges(edges_g, nodes)
    ups = upstream_ids.select(F.col(upstream_ids.columns[0]).alias("target"))
    general = me.join(ups, "target", "left_semi").select("myth").distinct()
    freq = nodes.select(
        F.col("label").alias("myth"),
        F.col("data_properties").getItem("myth_frequency").alias("myth_frequency"))
    return (general.join(F.broadcast(freq), "myth", "left")
            .orderBy(F.col("myth_frequency").desc_nulls_last(), F.col("myth").asc()))


def general_myths_ranked_local(edge_rows: list, scm_by_label: dict,
                               dp_by_label: dict, ups: set) -> list:
    """Driver replica of :func:`general_myths_ranked` for the small-graph
    path: myth nodes from the super_class_membership maps, is_a_myth_about
    out-edges into the upstream set, ranked (myth_frequency desc
    nulls-last with NaN greatest, label asc).  Returns (myth, frequency)
    tuples.  Equivalence pinned in tests/test_small_path_equivalence.py."""
    import math

    myth_labels = {lab for lab, scm in scm_by_label.items()
                   if scm is not None and MYTH_KEY in scm}
    general = {s for s, d, t in edge_rows
               if t == MYTH_ABOUT and s in myth_labels and d in ups}

    def key(m):
        f = (dp_by_label.get(m) or {}).get("myth_frequency")
        if f is None:
            return (1, 0.0, m)
        if isinstance(f, float) and math.isnan(f):
            return (0, float("-inf"), m)
        return (0, -f, m)

    return [(m, (dp_by_label.get(m) or {}).get("myth_frequency"))
            for m in sorted(general, key=key)]


def myth_sources(nodes: DataFrame) -> DataFrame:
    """A6 — (myth, myth_sources array) for every myth node."""
    return myth_nodes(nodes).select(
        F.col("label").alias("myth"),
        flatten_source_lists(F.col("properties")).alias("myth_sources"))


def myth_sources_local(nodes: dict) -> list:
    """Driver twin of :func:`myth_sources` (``process_myths.py:58-78``) over
    ``{label: node dict}``."""
    return [(lab, flatten_source_lists_local(n.get("properties")))
            for lab, n in nodes.items() if has_key(n, MYTH_KEY)]
