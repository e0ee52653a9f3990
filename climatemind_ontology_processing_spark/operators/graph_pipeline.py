"""EP1 orchestration — the engine's ``make_graph.make_graph`` (:28-67).

Stage order mirrors the reference exactly (each stage cites its impl):

  triples -> edges                          (make_graph_class.py:84-91)
  attach_attributes (J1 + A3)               (:93-304)
  set_edge_properties (J2)                  (:306-354)
  remove_edge_properties_from_nodes (U3)    (:357-376)
  make_acyclic -> B (G6)                    (:395-431)
  mitigations + ranking (G3/G7/O1)          (:433-513)
  adaptations (G4/G5/G8)                    (:515-559)
  annotated graph = B minus myths           (:381-393)
  cyto annotation + subgraphs (G2/G9/G10)   (process_visualization.py)
  myths (J4/A6/O2)                          (process_myths.py)
  causal sources (J3/A4/P6)                 (process_causal_sources.py)

A graph within the small-graph threshold runs every stage as a driver twin
(the reference's own single-machine shape); a larger one runs lazily-planned
DataFrames, with iterative-join traversals (SURVEY §4) and the tiny ranked
lists collected (they are attributes of one root node in the reference).
"""
from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import GREENHOUSE_EFFECT
from ..functions.arrays import flatten_source_lists, flatten_source_lists_local
from ..session import local_frame
from .acyclic import make_acyclic, make_acyclic_local
from .adaptation import (adaptation_solutions, adaptations_local,
                         total_adaptation_nodes)
from .attributes import attach_attributes, attach_attributes_local
from .causal_sources import causal_sources, causal_sources_local
from .edge_props import (remove_edge_properties_from_nodes,
                         remove_edge_properties_local, set_edge_properties,
                         set_edge_properties_local)
from .mitigation import (mitigation_solutions, mitigations_local,
                         rank_mitigations, rank_mitigations_local,
                         upstream_local, upstream_nodes)
from .myths import (general_myths_ranked, general_myths_ranked_local,
                    myth_sources, myth_sources_local, solution_and_impact_myths,
                    solution_and_impact_myths_local)
from .traversal import _checkpoint, small_rows
from .visualization import (annotate_cyto_edges, annotate_cyto_nodes,
                            annotated_graph, annotated_graph_local,
                            build_subgraphs, subgraph_tables, subgraphs_local)


@dataclass
class GraphBundle:
    nodes: DataFrame            # post-removal attributes + annotations
    edges: DataFrame            # G edges with properties
    edges_b: DataFrame          # acyclic B edges
    annotated_nodes: DataFrame  # B minus myths, cyto-annotated
    annotated_edges: DataFrame
    subgraph_nodes: DataFrame   # (subgraph_name, node_id)
    subgraph_edges: DataFrame   # (subgraph_name, src, dst)
    mitigation_ranked: list[str] = field(default_factory=list)
    extras: dict = field(default_factory=dict)


def triples_to_edges(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj) -> (src, dst, type); dedup mirrors the reference
    reading the already-deduped CSV (make_network.py:44)."""
    return (triples.select(F.col("subj").alias("src"),
                           F.col("obj").alias("dst"),
                           F.col("pred").alias("type"))
            .dropDuplicates(["src", "dst", "type"]))


def build_graph(triples: DataFrame, concepts: DataFrame,
                root: str = GREENHOUSE_EFFECT) -> GraphBundle:
    """EP1 — raw triples + concept dictionary -> :class:`GraphBundle`.

    The size choice is made once, here: :func:`.traversal.small_rows` over
    the raw (src, dst, type) projection of ``triples``.  A graph within the
    threshold takes the SMALL arm: one driver pass over the probe rows and
    one collect of ``concepts`` (no job when it is a local relation, as
    ``concepts_df`` builds it), each frame one :func:`.session.local_frame`,
    so no Spark job runs until the caller writes or collects.  Any larger graph
    runs every pass as DataFrame plans.  Both arms give identical rows and
    schemas (pinned in tests/test_graph_parity.py).

    The gate counts RAW, pre-dedup rows, so a duplicate-heavy input whose
    distinct edges would fit still takes the distributed arm.  That is
    conservative on purpose: the arm never changes the result, and
    counting before the dedup keeps the probe free of an extra exchange —
    its distinct rows are exactly the dedup'd G edges.
    """
    raw_edges = triples.select(F.col("subj").alias("src"),
                               F.col("obj").alias("dst"),
                               F.col("pred").alias("type"))
    g_rows = small_rows(raw_edges)
    if g_rows is None:
        return _build_graph_impl(triples_to_edges(triples), concepts, root)
    return _build_graph_local(g_rows, raw_edges.schema, concepts, root)


def _build_graph_local(g_rows: list[tuple], edge_schema, concepts: DataFrame,
                       root: str) -> GraphBundle:
    """The small arm: the reference's single-machine pipeline
    (``make_graph_class.py:84-559`` and the process_* passes, in the stage
    order above) as driver twins over G's distinct (src, dst, type) rows.
    Nodes are ``{label: node dict}``, edges (src, dst, type, properties)."""
    rows = concepts.collect()
    by_label = {r["label"]: r.asDict() for r in rows}
    if len(by_label) != len(rows):
        raise ValueError("concept labels must be unique")
    nodes = attach_attributes_local(g_rows, by_label)
    props0 = {lab: n.get("properties") for lab, n in nodes.items()}
    edges = set_edge_properties_local(g_rows, props0)
    for lab, p in remove_edge_properties_local(props0, edges).items():
        nodes[lab]["properties"] = p
    edges_b = make_acyclic_local(
        edges, {lab: n.get("direct_classes") for lab, n in nodes.items()})
    a_nodes, a_edges = annotated_graph_local(nodes, edges_b)

    b_rows = [e[:3] for e in edges_b]
    dp = {lab: n.get("data_properties") for lab, n in nodes.items()}
    ups_set = upstream_local(b_rows, root)
    mit_ids = mitigations_local(b_rows, ups_set)
    mit_ranked = rank_mitigations_local(mit_ids, dp)
    adapt_rows = adaptations_local(g_rows, b_rows, root)
    adapt_ids = {v for _e, vs in adapt_rows for v in vs}
    subs = subgraphs_local(
        [e[:3] for e in a_edges], sorted(
            lab for lab, n in a_nodes.items()
            if "personal-value" in n["cyto_classes"]),
        set(mit_ids), adapt_ids, root)
    gen_rows = general_myths_ranked_local(g_rows, {
        lab: n.get("super_class_membership") for lab, n in nodes.items()},
        dp, ups_set)
    myth_cat = solution_and_impact_myths_local(
        edges, nodes, subs["downstream_adaptations"][0])
    # A5 (make_graph_class.py:506-513, 551-557): empty bags survive only
    # for adaptation solutions
    flat = {lab: flatten_source_lists_local(nodes[lab]["properties"])
            for lab in set(mit_ids) | adapt_ids}
    # fold the annotations onto the nodes, incl. the two root-node lists
    for col, vals in (
            ("solution_sources", {lab: f for lab, f in flat.items()
                                  if f or lab in adapt_ids}),
            ("adaptation_solutions", dict(adapt_rows)),
            ("solution_myths", {t: m for t, m, _i in myth_cat}),
            ("impact_myths", {t: m for t, _s, m in myth_cat}),
            ("myth_sources", dict(myth_sources_local(nodes))),
            ("causal_sources", dict(causal_sources_local(edges))),
            ("mitigation_solutions", {root: mit_ranked}),
            ("general_myths", {root: [m for m, _f in gen_rows]})):
        for lab, v in vals.items():
            if lab in nodes:
                nodes[lab][col] = v

    # each frame has the distributed arm's column names, order and types
    ty = edge_schema["src"].dataType.simpleString()
    s, ids = "array<string>", f"array<{ty}>"
    e_fields = [("src", ty), ("dst", ty), ("type", "string"),
                ("properties", "map<string,array<string>>")]
    n_fields = ([("label", ty)] + [(f.name, f.dataType.simpleString())
                                   for f in concepts.schema
                                   if f.name != "label"]
                + [(c, "array<int>") for c in ("personal_values_19",
                   "personal_values_10", "political_value")]
                + [("pv_conflicts", s)])

    def frame(rows, fields):
        return local_frame(concepts.sparkSession, rows,
                           ", ".join(f"`{c}` {t}" for c, t in fields))

    return GraphBundle(
        nodes=frame(nodes.values(), n_fields + [
            ("solution_sources", s), ("adaptation_solutions", ids),
            ("solution_myths", ids), ("impact_myths", ids),
            ("myth_sources", s), ("causal_sources", s),
            ("mitigation_solutions", s), ("general_myths", s)]),
        edges=frame(edges, e_fields),
        edges_b=frame(edges_b, e_fields),
        annotated_nodes=frame(a_nodes.values(),
                              n_fields + [("cyto_classes", s)]),
        annotated_edges=frame(
            [(d, src, t, p, c) for src, d, t, p, c in a_edges],
            [e_fields[1], e_fields[0], *e_fields[2:], ("cyto_classes", s)]),
        subgraph_nodes=frame(
            [(name, v) for name, (ns, _es) in subs.items() for v in ns],
            [("subgraph_name", "string"), ("node_id", ty)]),
        subgraph_edges=frame(
            [(name, a, b) for name, (_ns, es) in subs.items() for a, b in es],
            [("subgraph_name", "string"), ("src", ty), ("dst", ty)]),
        mitigation_ranked=mit_ranked,
        extras={
            "upstream_ids": frame([(v,) for v in sorted(ups_set)], [("id", ty)]),
            "mitigation_ids": frame([(v,) for v in mit_ids], [("id", ty)]),
            "adaptations": frame(adapt_rows, [("effect", ty),
                                              ("adaptation_solutions", ids)]),
            "general_myths": frame(gen_rows, [("myth", "string"),
                                              ("myth_frequency", "double")]),
        },
    )


def _build_graph_impl(edges0: DataFrame, concepts: DataFrame,
                      root: str) -> GraphBundle:
    """The distributed arm: every pass as DataFrame plans."""
    # J1 + A3 (checkpointed: both set_edge_properties and
    # remove_edge_properties_from_nodes consume nodes0 — one attach
    # execution instead of two, and their stage jobs stop re-broadcasting
    # the concepts dictionary)
    nodes0 = _checkpoint(attach_attributes(edges0, concepts))

    # J2 / A7 / U1-U3  (eager checkpoint: lazy localCheckpoint under AQE can
    # lose attribute bindings — observed "key not found: src#N" in Spark 4.1)
    edges = _checkpoint(set_edge_properties(edges0, nodes0))
    nodes = _checkpoint(remove_edge_properties_from_nodes(nodes0, edges))

    # G6 (checkpointed: the traversal loops below self-union this plan, and
    # deep self-unions under AQE hit the same attribute-binding bug)
    edges_b = _checkpoint(make_acyclic(edges, nodes))

    # annotated graph + cyto (checkpointed: the 25-subgraph fan-out
    # references these plans ~25x each — without truncation every
    # induced-edge branch would recompute the whole upstream pipeline)
    a_nodes, a_edges = annotated_graph(nodes, edges_b)
    a_nodes = _checkpoint(annotate_cyto_nodes(a_nodes))
    a_edges = _checkpoint(annotate_cyto_edges(a_edges, a_nodes))

    # G3/G7/O1
    ups = _checkpoint(upstream_nodes(edges_b, root))
    mit = _checkpoint(mitigation_solutions(edges_b, root, ups=ups))
    mit_ranked = [r.id for r in rank_mitigations(mit, nodes).collect()]
    # G4/G5/G8 — inhibit neighbors from PRE-cut G, paths from B
    adapt = _checkpoint(adaptation_solutions(edges, edges_b, root))
    adapt_ids = total_adaptation_nodes(adapt)

    # Solution sources (A5) for mitigation + adaptation solution nodes.
    # Reference gating differs per pass: mitigation sets the attribute only
    # when non-empty (make_graph_class.py:508 ``if sources:``), adaptation
    # sets it unconditionally (:553-557) — so empty bags survive only for
    # adaptation solutions.
    flat = flatten_source_lists(F.col("properties"))
    sol_ids = (mit.withColumn("_always", F.lit(False))
               .unionByName(adapt_ids.withColumn("_always", F.lit(True))))
    sol_flags = sol_ids.groupBy("id").agg(F.max("_always").alias("_always"))
    solution_sources_df = (nodes
        .join(sol_flags.withColumnRenamed("id", "label"), "label")
        .select("label",
                F.when((F.size(flat) > 0) | F.col("_always"), flat)
                 .alias("solution_sources"))
        .filter(F.col("solution_sources").isNotNull()))

    subs = build_subgraphs(a_nodes, a_edges, mit, adapt_ids, root)
    sub_nodes, sub_edges = subgraph_tables(subs, a_edges)
    down_ids = subs["downstream_adaptations"]

    gen_myths = general_myths_ranked(edges, nodes, ups)
    gen_myth_list = [r["myth"] for r in gen_myths.collect()]

    # myths (against full G nodes/edges; downstream set from the annotated
    # subgraph per process_myths.py:42)
    myth_cat = solution_and_impact_myths(edges, nodes, down_ids)
    myth_src = myth_sources(nodes)

    # causal sources
    causal = causal_sources(edges)

    # fold per-node annotation outputs back onto the node table, including
    # the two ROOT-node ranked lists the reference pins as attributes of
    # "increase in greenhouse effect" (make_graph_class.py:499-503 mitigation
    # solutions; process_myths.py:102-106 general myths) — the S4 gpickle
    # feeds an app from these fields, so the node table must carry them

    def _root_list(values: list[str]):
        arr = (F.array(*[F.lit(v) for v in values]) if values
               else F.array().cast("array<string>"))
        return F.when(F.col("label") == root, arr)

    nodes_final = (nodes
        .join(solution_sources_df, "label", "left")
        .join(adapt.withColumnRenamed("effect", "label"), "label", "left")
        .join(myth_cat.withColumnRenamed("target", "label"), "label", "left")
        .join(myth_src.withColumnRenamed("myth", "label"), "label", "left")
        .join(causal, "label", "left")
        .withColumn("mitigation_solutions", _root_list(mit_ranked))
        .withColumn("general_myths", _root_list(gen_myth_list)))

    return GraphBundle(
        nodes=nodes_final,
        edges=edges,
        edges_b=edges_b,
        annotated_nodes=a_nodes,
        annotated_edges=a_edges,
        subgraph_nodes=sub_nodes,
        subgraph_edges=sub_edges,
        mitigation_ranked=mit_ranked,
        extras={
            "upstream_ids": ups,
            "mitigation_ids": mit,
            "adaptations": adapt,
            "general_myths": gen_myths,
        },
    )
