"""Edge-property derivation and node-property removal.

Reproduces ``make_graph_class.set_edge_properties`` (:306-354, SURVEY §2.3 J2 +
§2.6 U1/U2) and ``remove_edge_properties_from_nodes`` (:357-376, U3/A7):

* For every edge whose type is NOT the inhibit relation, per source-type
  property, the URL-set intersection of the two endpoints becomes an edge
  property (only non-empty intersections are kept; inhibit edges get an empty
  property bag — the reference assigns ``{}`` to every edge at :352).
* Every (node, prop) that contributed an intersection has those URLs removed
  from the node's own property list (:338-350 build, :357-376 apply).

Implementation: double broadcast join of edges against the node property bags,
``F.array_intersect`` per source type, ``map_filter`` to keep non-empty; the
removal sets are a groupBy over the exploded (node, prop, urls) pairs joined
back with ``array_except``.

Ordering: the reference materializes Python sets (`list(intersection)`,
set difference) whose order is hash-randomized per process — not reproducible
even by the reference itself.  We canonicalize every URL array with
``sort_array`` (documented divergence; parity fixtures compare sorted).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import INHIBITS, SOURCE_TYPES
from ..functions.arrays import sort_array_local


def _node_props(nodes: DataFrame) -> DataFrame:
    return nodes.select(F.col("label").alias("_n"), F.col("properties").alias("_p"))


def set_edge_properties(edges: DataFrame, nodes: DataFrame,
                        source_types: list[str] | None = None) -> DataFrame:
    """J2 — edges with a ``properties: map<string, array<string>>`` column.

    ``nodes`` must carry (label, properties).  The dictionary-sized property
    table is broadcast to both join sides; edges stream through without a
    shuffle at scale.
    """
    st = tuple(source_types or SOURCE_TYPES)
    props = _node_props(nodes)
    a = props.alias("a")
    b = props.alias("b")
    joined = (edges
              .join(F.broadcast(a), edges.src == F.col("a._n"), "left")
              .join(F.broadcast(b), edges.dst == F.col("b._n"), "left"))
    return (joined
            .select(*[edges[c] for c in edges.columns if c != "properties"],
                    _prop_map_col(st).alias("properties")))


# the property-map expression references only fixed column names
# ("a._p"/"b._p"/"type") and the source-type list, so the tree is
# reusable across DataFrames; building it costs ~100 py4j round trips —
# cache per source-type tuple (the _pv_cols precedent)
_PROP_MAP_CACHE: dict = {}


def _prop_map_col(st: tuple):
    if st in _PROP_MAP_CACHE:
        return _PROP_MAP_CACHE[st]
    # Map-level formulation (round-2 verdict next-step #8): instead of
    # |source_types| unrolled when/intersect/coalesce sub-trees (which
    # dominated first-job codegen), restrict each endpoint's property map to
    # the source-type keys and zip the two maps once — ONE constant-size
    # expression tree regardless of how many source types exist.  Semantics
    # are identical: a key in neither map yields no entry; a key in one map
    # intersects with [] -> empty -> dropped by the final non-empty filter;
    # inhibit edges get {} (reference make_graph_class.py:352).
    empty_arr = F.array().cast("array<string>")
    empty_map = F.map_from_arrays(
        empty_arr, F.array().cast("array<array<string>>"))
    st_arr = F.array(*[F.lit(k) for k in st])

    def only_st(m):
        return F.map_filter(F.coalesce(m, empty_map),
                            lambda k, _v: F.array_contains(st_arr, k))

    inter = F.map_zip_with(
        only_st(F.col("a._p")), only_st(F.col("b._p")),
        lambda _k, v1, v2: F.sort_array(F.array_intersect(
            F.coalesce(v1, empty_arr), F.coalesce(v2, empty_arr))))
    prop_map = F.when(F.col("type") != INHIBITS,
                      F.map_filter(inter, lambda _k, v: F.size(v) > 0)) \
        .otherwise(empty_map)
    _PROP_MAP_CACHE[st] = prop_map
    return prop_map


def set_edge_properties_local(g_rows: list, props_by_label: dict) -> list:
    """Driver twin of :func:`set_edge_properties` (``make_graph_class.py:
    306-354``) over G's (src, dst, type) rows and ``{label: properties}``:
    (src, dst, type, properties) rows."""
    def props(s, d, t):
        pa, pb = props_by_label.get(s) or {}, props_by_label.get(d) or {}
        inter = {k: set(pa[k] or ()) & set(pb[k] or ())
                 for k in pa.keys() & pb.keys() & set(SOURCE_TYPES)}
        return {k: sort_array_local(v) for k, v in inter.items()
                if v and t is not None and t != INHIBITS}

    return [(s, d, t, props(s, d, t)) for s, d, t in g_rows]


def removal_sets(edges_with_props: DataFrame) -> DataFrame:
    """A7/U2 — per-(node, prop) union of edge intersections to subtract
    (``make_graph_class.py:338-350``).  Returns (label, prop, removed)."""
    ex = edges_with_props.select(
        "src", "dst", F.explode("properties").alias("prop", "urls"))
    both = (ex.select(F.col("src").alias("label"), "prop", "urls")
            .unionByName(ex.select(F.col("dst").alias("label"), "prop", "urls")))
    return (both.groupBy("label", "prop")
            .agg(F.array_distinct(F.flatten(F.collect_list("urls"))).alias("removed")))


def remove_edge_properties_from_nodes(nodes: DataFrame,
                                      edges_with_props: DataFrame) -> DataFrame:
    """U3 — subtract the removal sets from node property bags
    (``make_graph_class.py:357-376``); non-source-type keys untouched."""
    removal = (removal_sets(edges_with_props)
               .groupBy("label")
               .agg(F.map_from_entries(
                   F.collect_list(F.struct("prop", "removed"))).alias("_removed")))
    joined = nodes.join(F.broadcast(removal), "label", "left")
    # element_at (not getItem/[]): a lambda-variable key is a Column, and
    # Column-key getItem is deprecated (FutureWarning, removal announced)
    cleaned = F.transform_values(
        F.col("properties"),
        lambda k, v: F.when(
            F.col("_removed").isNotNull() & F.element_at(F.col("_removed"), k).isNotNull(),
            F.sort_array(F.array_except(v, F.element_at(F.col("_removed"), k)))
        ).otherwise(F.sort_array(v)))
    return (joined
            .withColumn("properties",
                        F.when(F.col("properties").isNotNull(), cleaned))
            .drop("_removed"))


def remove_edge_properties_local(props_by_label: dict,
                                 edge_rows: list) -> dict:
    """Driver twin of :func:`remove_edge_properties_from_nodes`
    (``make_graph_class.py:357-376``) over ``{label: properties}`` and
    (src, dst, type, properties) rows: ``{label: cleaned properties}``."""
    removed: dict = {}
    for s, d, _t, props in edge_rows:
        for k, urls in props.items():
            for x in (s, d):
                removed.setdefault(x, {}).setdefault(k, set()).update(urls)
    return {lab: None if p is None else {
                k: None if v is None else sort_array_local(
                    set(v) - removed[lab][k] if k in removed.get(lab, {})
                    else v) for k, v in p.items()}
            for lab, p in props_by_label.items()}
