"""Visualization annotation + subgraph extraction
(``process_visualization.py:35-132``, SURVEY §2.7 G2/G9/G10, §2.6 U4).

Cyto annotation (:35-73):
* edge gets "solution-edge" if either endpoint carries the "risk solution"
  key, ELSE "edge-no-source" if its property bag is empty;
* node gets "risk-solution" if it carries the key, "personal-value" if
  ``any(personal_values_10)`` (Python truthiness: -1/1 truthy, 0/None falsy).
* the ``risk_or_personal_value_node`` block at :59-72 is dead code in the
  reference (flag never set True; would NameError on SOURCE_TYPES) — per
  SURVEY §4.2 we never emit "no-long-description"/"node-no-sources".

Subgraphs (:75-132) over the annotated graph (B minus myth nodes):
* upstream                = reverse BFS, causes edges only  (NOTE: extracted
  at ``__init__`` :16-18, BEFORE cyto annotation — the pickled 'upstream'
  nodes carry no cyto_classes; as tables this only affects attr parity)
* downstream_adaptations  = forward BFS, any edge type
* downstream              = forward BFS, causes edges only
* upstream_mitigations    = union(upstream nodes, mitigation nodes), induced
* per-personal-value      = reverse BFS (any type) from each pv node over the
  downstream_adaptations subgraph with solution-pointing edges REVERSED (G9,
  :120-127); all ~20 seeds expand in ONE tagged iterative join (G10).

Output representation: ``subgraphs(subgraph_name, node_id)`` plus induced
edge tables — partitioned-by-name friendly (SURVEY §2.1 S7).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CAUSES, GREENHOUSE_EFFECT
from ..functions.arrays import any_truthy
from .myths import MYTH_KEY, RISK_SOLUTION_KEY, has_key, myth_nodes
from .traversal import (_MAX_ROUNDS, _adjacency, _reach_local, bfs_reachable,
                        bfs_reachable_tagged, induced_edges, typed_adjacency)


def _risk_solution_ids(nodes: DataFrame) -> DataFrame:
    return nodes.filter(
        F.col("super_class_membership").isNotNull() &
        F.map_contains_key("super_class_membership", RISK_SOLUTION_KEY)
    ).select(F.col("label").alias("id"))


def annotated_graph(nodes: DataFrame, edges_b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``get_annotated`` (make_graph_class.py:381-393): B minus myth nodes."""
    myths = myth_nodes(nodes).select(F.col("label").alias("id"))
    kept_nodes = nodes.join(F.broadcast(myths),
                            nodes.label == F.col("id"), "left_anti")
    kept_edges = induced_edges(edges_b, kept_nodes.select("label"))
    return kept_nodes, kept_edges


def annotate_cyto_edges(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    risk = _risk_solution_ids(nodes)
    a = risk.withColumnRenamed("id", "src").withColumn("_ra", F.lit(True))
    b = risk.withColumnRenamed("id", "dst").withColumn("_rb", F.lit(True))
    joined = (edges.join(F.broadcast(a), "src", "left")
                   .join(F.broadcast(b), "dst", "left"))
    cyto = (F.when(F.col("_ra") | F.col("_rb"), F.array(F.lit("solution-edge")))
            .when(F.size(F.map_keys(F.coalesce(
                F.col("properties"),
                F.from_json(F.lit("{}"), "map<string,array<string>>")))) == 0,
                F.array(F.lit("edge-no-source")))
            .otherwise(F.array().cast("array<string>")))
    return joined.withColumn("cyto_classes", cyto).drop("_ra", "_rb")


def annotate_cyto_nodes(nodes: DataFrame) -> DataFrame:
    is_risk = (F.col("super_class_membership").isNotNull() &
               F.map_contains_key("super_class_membership", RISK_SOLUTION_KEY))
    is_pv = any_truthy(F.col("personal_values_10"))
    cyto = F.filter(
        F.array(
            F.when(is_risk, F.lit("risk-solution")),
            F.when(is_pv, F.lit("personal-value")),
        ), lambda x: x.isNotNull())
    return nodes.withColumn("cyto_classes", cyto)


def annotated_graph_local(nodes: dict, b_rows: list) -> tuple[dict, list]:
    """Driver twin of :func:`annotated_graph` (``make_graph_class.py:
    381-393``) plus the two cyto passes (``process_visualization.py:35-73``)
    over ``{label: node dict}`` and B's (src, dst, type, properties) rows:
    the myth-free nodes and edges, each with its ``cyto_classes``."""
    kept = {lab: dict(n, cyto_classes=[c for c, on in (
                ("risk-solution", has_key(n, RISK_SOLUTION_KEY)),
                ("personal-value", any(v not in (None, 0)
                                       for v in n["personal_values_10"])))
                if on])
            for lab, n in nodes.items() if not has_key(n, MYTH_KEY)}
    risk = {lab for lab, n in kept.items() if has_key(n, RISK_SOLUTION_KEY)}
    edges = [(s, d, t, p, ["solution-edge"] if s in risk or d in risk
              else [] if p else ["edge-no-source"])
             for s, d, t, p in b_rows if s in kept and d in kept]
    return kept, edges


def reverse_solution_edges(edges: DataFrame, adaptation_ids: DataFrame) -> DataFrame:
    """G9 — swap (src, dst) for edges whose dst is an adaptation node
    (``process_visualization.py:120-127``)."""
    tgt = adaptation_ids.select(
        F.col(adaptation_ids.columns[0]).alias("dst")).withColumn("_adapt", F.lit(True))
    joined = edges.join(F.broadcast(tgt), "dst", "left")
    swap = F.col("_adapt").isNotNull()
    out_cols = [c for c in edges.columns if c not in ("src", "dst")]
    return joined.select(
        F.when(swap, F.col("dst")).otherwise(F.col("src")).alias("src"),
        F.when(swap, F.col("src")).otherwise(F.col("dst")).alias("dst"),
        *out_cols)


def build_subgraphs(nodes: DataFrame, edges_annot: DataFrame,
                    mitigation_ids: DataFrame, adaptation_ids: DataFrame,
                    root: str = GREENHOUSE_EFFECT) -> dict[str, DataFrame]:
    """All named subgraph node sets.  Returns {name: DataFrame[id]}; pv
    subgraphs are returned together under key "__pv__" as DataFrame[tag, id]
    and the reversed-solutions edges they are cut from under
    "__pv_edges_base__"."""
    upstream = bfs_reachable(edges_annot, [root], "reverse", CAUSES)
    downstream_adapt = bfs_reachable(edges_annot, [root], "forward", None)
    downstream = bfs_reachable(edges_annot, [root], "forward", CAUSES)
    upstream_mit = (upstream.unionByName(
        mitigation_ids.select(F.col(mitigation_ids.columns[0]).alias("id")))
        .distinct())

    # per-personal-value: reversed-solutions graph restricted to
    # downstream_adaptations, tagged multi-seed reverse BFS
    da_edges = induced_edges(edges_annot, downstream_adapt)
    rev = reverse_solution_edges(da_edges, adaptation_ids)
    pv_nodes = (annotate_cyto_nodes(nodes)
                .filter(any_truthy(F.col("personal_values_10")))
                .select(F.col("label").alias("tag"), F.col("label").alias("id")))
    pv_members = bfs_reachable_tagged(rev, pv_nodes, "reverse", None)

    return {
        "upstream": upstream,
        "downstream_adaptations": downstream_adapt,
        "downstream": downstream,
        "upstream_mitigations": upstream_mit,
        "__pv__": pv_members,
        "__pv_edges_base__": rev,
    }


def subgraph_tables(subgraphs: dict[str, DataFrame],
                    edges_annot: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Materialize (subgraph_name, node_id) and (subgraph_name, src, dst)
    tables — the engine's S7 sink shape, partitionable by subgraph_name."""
    parts_n = []
    parts_e = []
    for name, df in subgraphs.items():
        if name.startswith("__pv_edges"):
            continue
        if name == "__pv__":
            parts_n.append(df.select(F.col("tag").alias("subgraph_name"),
                                     F.col("id").alias("node_id")))
            rev = subgraphs["__pv_edges_base__"]
            e = (df.alias("m")
                 .join(rev.alias("e"), F.col("m.id") == F.col("e.src"))
                 .join(df.alias("m2"),
                       (F.col("m2.tag") == F.col("m.tag")) &
                       (F.col("m2.id") == F.col("e.dst")), "left_semi")
                 .select(F.col("m.tag").alias("subgraph_name"),
                         F.col("e.src").alias("src"), F.col("e.dst").alias("dst")))
            parts_e.append(e)
        else:
            parts_n.append(df.select(F.lit(name).alias("subgraph_name"),
                                     F.col("id").alias("node_id")))
            ind = induced_edges(edges_annot, df)
            parts_e.append(ind.select(F.lit(name).alias("subgraph_name"),
                                      "src", "dst"))
    nodes_t = parts_n[0]
    for p in parts_n[1:]:
        nodes_t = nodes_t.unionByName(p)
    edges_t = parts_e[0]
    for p in parts_e[1:]:
        edges_t = edges_t.unionByName(p)
    return nodes_t, edges_t.distinct()


def subgraphs_local(a_rows: list, pv_labels: list, mitigation_ids: set,
                    adaptation_ids: set, root: str = GREENHOUSE_EFFECT
                    ) -> dict[str, tuple[list, list]]:
    """Driver twin of :func:`build_subgraphs` + :func:`subgraph_tables`
    over the annotated graph's (src, dst, type) rows:
    {subgraph_name: (sorted node ids, sorted (src, dst) edges)} for the
    four named subgraphs and one per personal-value label."""
    def from_root(adj):
        return {v for _, v in _reach_local(adj, [(root, root)], _MAX_ROUNDS,
                                           "bfs_reachable")}

    upstream = from_root(typed_adjacency(a_rows, "reverse", CAUSES))
    down_adapt = from_root(typed_adjacency(a_rows))
    named = {
        "upstream": upstream,
        "downstream_adaptations": down_adapt,
        "downstream": from_root(typed_adjacency(a_rows, "forward", CAUSES)),
        "upstream_mitigations": upstream | mitigation_ids,
    }
    pairs = sorted({(s, d) for s, d, _t in a_rows})
    out = {name: (sorted(ns), [(s, d) for s, d in pairs
                               if s in ns and d in ns])
           for name, ns in named.items()}
    # per-personal-value: reverse BFS over the downstream_adaptations
    # subgraph with solution-pointing edges reversed
    rev = sorted({(d, s) if d in adaptation_ids else (s, d)
                  for s, d in pairs if s in down_adapt and d in down_adapt})
    members: dict = {tag: set() for tag in pv_labels}
    for tag, v in _reach_local(_adjacency(rev, "reverse"),
                               [(t, t) for t in pv_labels], _MAX_ROUNDS,
                               "bfs_reachable"):
        members[tag].add(v)
    for tag, ms in members.items():
        out[tag] = (sorted(ms), [(s, d) for s, d in rev
                                 if s in ms and d in ms])
    return out
