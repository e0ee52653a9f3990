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

Everything is lazily-planned DataFrames except the iterative traversals
(driver loops, SURVEY §4) and the tiny ranked lists (collected — they are
attributes of one root node in the reference).
"""
from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import GREENHOUSE_EFFECT
from ..functions.arrays import flatten_source_lists
from .acyclic import make_acyclic
from .adaptation import (adaptation_solutions, adaptations_local,
                         total_adaptation_nodes)
from .attributes import attach_attributes
from .causal_sources import causal_sources
from .edge_props import remove_edge_properties_from_nodes, set_edge_properties
from .mitigation import (mitigation_solutions, mitigations_local,
                         rank_mitigations, rank_mitigations_local,
                         upstream_local, upstream_nodes)
from .myths import (MYTH_KEY, general_myths_ranked, general_myths_ranked_local,
                    myth_sources, solution_and_impact_myths)
from .traversal import small_rows
from .visualization import (annotate_cyto_edges, annotate_cyto_nodes,
                            annotated_graph, build_subgraphs, subgraph_tables,
                            subgraphs_local)


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
    threshold takes the SMALL arm: the annotation passes (upstream set,
    mitigations, adaptations, subgraphs, general myths) run as driver twins
    on the collected G, B and annotated edge rows and the node annotation
    maps, and whole-stage codegen is off for the call.  Any larger graph
    runs every pass as DataFrame plans.  Both arms give identical rows
    (pinned in tests/test_graph_parity.py).

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
    edges0 = triples_to_edges(triples)
    if g_rows is None:
        return _build_graph_impl(edges0, concepts, root, None)
    # SMALL arm: whole-stage codegen compilation dominates sub-threshold
    # runs (the ~12 annotation stages each compile large generated classes
    # for a few hundred rows; measured ~1.5 s/rep on the golden fixture).
    # Scope the toggle to this call — big graphs keep codegen.
    spark = triples.sparkSession
    key = "spark.sql.codegen.wholeStage"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        return _build_graph_impl(edges0, concepts, root, g_rows)
    finally:
        spark.conf.set(key, old)


def _edge_rows(edges: DataFrame) -> list[tuple]:
    return [tuple(r) for r in edges.select("src", "dst", "type").collect()]


def _build_graph_impl(edges0: DataFrame, concepts: DataFrame, root: str,
                      g_rows: list[tuple] | None) -> GraphBundle:
    """``g_rows`` are G's distinct (src, dst, type) rows on the small arm,
    None on the distributed arm."""
    small = g_rows is not None

    # Size-adaptive checkpoint width: a curated KG (hundreds..thousands of
    # edges) gains nothing from 32-partition checkpointed RDDs — every
    # downstream stage (and the 25-subgraph union fan-out) schedules that
    # many tasks per checkpoint it touches, and checkpointed RDD lineage
    # bypasses AQE coalescing so the width sticks.  SMALL graphs coalesce
    # each checkpoint to 1 partition; big graphs keep full parallelism.
    # (Lowering shuffle_partitions / coalescing the driver-side traversal
    # frames were ALSO tried and measured neutral-to-negative on this
    # pipeline — the residual cost is per-stage scheduling floor spread
    # over ~12 phases, not width.)
    def _ckpt(df: DataFrame) -> DataFrame:
        return (df.coalesce(1) if small else df).localCheckpoint(eager=True)

    # J1 + A3 (checkpointed: both set_edge_properties and
    # remove_edge_properties_from_nodes consume nodes0 — one attach
    # execution instead of two, and their stage jobs stop re-broadcasting
    # the concepts dictionary)
    nodes0 = _ckpt(attach_attributes(edges0, concepts))

    # J2 / A7 / U1-U3  (eager checkpoint: lazy localCheckpoint under AQE can
    # lose attribute bindings — observed "key not found: src#N" in Spark 4.1)
    edges = _ckpt(set_edge_properties(edges0, nodes0))
    nodes = _ckpt(remove_edge_properties_from_nodes(nodes0, edges))

    # G6 (checkpointed: the traversal loops below self-union this plan, and
    # deep self-unions under AQE hit the same attribute-binding bug)
    edges_b = _ckpt(make_acyclic(edges, nodes))

    # annotated graph + cyto (checkpointed: the 25-subgraph fan-out
    # references these plans ~25x each — without truncation every
    # induced-edge branch would recompute the whole upstream pipeline)
    a_nodes, a_edges = annotated_graph(nodes, edges_b)
    a_nodes = _ckpt(annotate_cyto_nodes(a_nodes))
    a_edges = _ckpt(annotate_cyto_edges(a_edges, a_nodes))

    # Solution sources (A5) for mitigation + adaptation solution nodes.
    # Reference gating differs per pass: mitigation sets the attribute only
    # when non-empty (make_graph_class.py:508 ``if sources:``), adaptation
    # sets it unconditionally (:553-557) — so empty bags survive only for
    # adaptation solutions.
    flat = flatten_source_lists(F.col("properties"))
    if small:
        # G3/G7/O1, G4/G5/G8, G2/G9/G10 and O2 as driver twins over three
        # edge row lists and ONE narrow collect of the node annotation maps
        spark = edges.sparkSession
        b_rows = _edge_rows(edges_b)
        a_rows = _edge_rows(a_edges)
        ann = nodes.select("label", "data_properties", "super_class_membership",
                           "personal_values_10").collect()
        dp = {r["label"]: r["data_properties"] for r in ann}
        scm = {r["label"]: r["super_class_membership"] for r in ann}
        # personal-value subgraphs come from the annotated (myth-free) nodes
        pv_labels = sorted(
            r["label"] for r in ann
            if any(r["personal_values_10"] or ())
            and MYTH_KEY not in (r["super_class_membership"] or {}))

        ups_set = upstream_local(b_rows, root)
        mit_ids = mitigations_local(b_rows, ups_set)
        mit_ranked = rank_mitigations_local(mit_ids, dp)
        adapt_rows = adaptations_local(g_rows, b_rows, root)
        adapt_ids = sorted({v for _e, vs in adapt_rows for v in vs})

        # literal membership filters replace the flag union + groupBy +
        # join (node labels are unique, so the inner join was exactly this
        # filter; _always = max(_always) is True iff the label is an
        # adaptation id)
        sol = sorted(set(mit_ids) | set(adapt_ids))
        in_always = (F.col("label").isin(adapt_ids) if adapt_ids
                     else F.lit(False))
        solution_sources_df = (nodes
            .filter(F.col("label").isin(sol) if sol else F.lit(False))
            .select("label",
                    F.when((F.size(flat) > 0) | in_always, flat)
                     .alias("solution_sources"))
            .filter(F.col("solution_sources").isNotNull()))

        subs = subgraphs_local(a_rows, pv_labels, set(mit_ids),
                               set(adapt_ids), root)
        ty = edges_b.schema["src"].dataType.simpleString()
        sub_nodes = spark.createDataFrame(
            [(name, v) for name, (ns, _es) in subs.items() for v in ns],
            f"subgraph_name string, node_id {ty}")
        sub_edges = spark.createDataFrame(
            [(name, s, d) for name, (_ns, es) in subs.items() for s, d in es],
            f"subgraph_name string, src {ty}, dst {ty}")
        down_ids = subs["downstream_adaptations"][0]

        gen_rows = general_myths_ranked_local(g_rows, scm, dp, ups_set)
        gen_myth_list = [m for m, _f in gen_rows]
        ups = spark.createDataFrame([(v,) for v in sorted(ups_set)], f"id {ty}")
        mit = spark.createDataFrame([(v,) for v in mit_ids], f"id {ty}")
        adapt = spark.createDataFrame(
            adapt_rows, f"effect {ty}, adaptation_solutions array<{ty}>")
        gen_myths = spark.createDataFrame(
            gen_rows, "myth string, myth_frequency double")
    else:
        ups = _ckpt(upstream_nodes(edges_b, root))
        mit = _ckpt(mitigation_solutions(edges_b, root, ups=ups))
        mit_ranked = [r.id for r in rank_mitigations(mit, nodes).collect()]
        # G4/G5/G8 — inhibit neighbors from PRE-cut G, paths from B
        adapt = _ckpt(adaptation_solutions(edges, edges_b, root))
        adapt_ids = total_adaptation_nodes(adapt)

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

    # size-gated broadcast hints: in the small path several right sides
    # are driver-built frames (LogicalRDD, unknown stats) that would
    # otherwise plan as sort-merge joins with exchanges; above the
    # threshold they keep the planner's choice
    _b = F.broadcast if small else (lambda df: df)
    nodes_final = (nodes
        .join(_b(solution_sources_df), "label", "left")
        .join(_b(adapt.withColumnRenamed("effect", "label")), "label", "left")
        .join(_b(myth_cat.withColumnRenamed("target", "label")), "label", "left")
        .join(_b(myth_src.withColumnRenamed("myth", "label")), "label", "left")
        .join(_b(causal), "label", "left")
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
