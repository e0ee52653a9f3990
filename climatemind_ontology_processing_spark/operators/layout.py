"""X3 — deterministic DAG layout (the reference's graphviz-dot analog).

The reference lays out its processed graph with graphviz ``dot``
(``visualize.py:307`` — ``nx.nx_pydot.graphviz_layout(G, prog="dot")``).
graphviz is not available here and its output is not deterministic across
versions, so this is a from-scratch implementation of the same algorithm
family (Sugiyama layered drawing — Sugiyama, Tagawa & Toda 1981, the public
algorithm ``dot`` implements):

1. **layering** — ``dag_layers``: layer(v) = longest path length from any
   root.  Size-adaptive like the traversals: driver-side DP on small graphs,
   semi-naive max-propagation joins above ``SMALL_GRAPH_THRESHOLD`` (one
   keys-only shuffle per DAG level, same shape as ``bfs_reachable``).
2. **crossing reduction** — barycenter sweeps over adjacent layers.
3. **coordinate assignment** — nodes spread per layer, centered; y = layer.

Steps 2-3 (``dot_layout``) are presentation-layer and run driver-side on the
collected (id, layer) table — layouts are consumed by humans, so the input
is a curated graph by construction (guarded by ``max_layout_nodes``).
Layering, the only part that touches the full graph, scales.

Output contract matches the reference's layout dict shape: one row per node,
``(id, x double, y double, layer int)``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .traversal import _changed, _checkpoint, _fixpoint, small_rows


def dag_layers(edges: DataFrame, src: str = "src", dst: str = "dst",
               max_rounds: int = 200) -> DataFrame:
    """(id, layer) — longest-path layering of a DAG; raises ValueError on a
    cycle (run ``acyclic.make_acyclic`` first, as the reference pipeline
    does before visualizing)."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
         .distinct())
    rows = small_rows(e)
    if rows is not None:
        adj: dict = {}
        indeg: dict = {}
        nodes: set = set()
        for u, v in rows:
            adj.setdefault(u, []).append(v)
            indeg[v] = indeg.get(v, 0) + 1
            nodes.add(u)
            nodes.add(v)
        layer = {n: 0 for n in nodes}
        queue = sorted(n for n in nodes if indeg.get(n, 0) == 0)
        seen = 0
        indeg = dict(indeg)
        while queue:
            n = queue.pop()
            seen += 1
            for m in adj.get(n, []):
                layer[m] = max(layer[m], layer[n] + 1)
                indeg[m] -= 1
                if indeg[m] == 0:
                    queue.append(m)
        if seen != len(nodes):
            raise ValueError("dag_layers requires an acyclic graph "
                             "(run make_acyclic first)")
        t = e.schema["u"].dataType.simpleString()
        return edges.sparkSession.createDataFrame(
            sorted(layer.items()), f"id {t}, layer int")
    # distributed: semi-naive longest-path — propagate layer+1 along edges,
    # keep the max per node; fixpoint after <= DAG-depth rounds
    ec = _checkpoint(e)

    # true semi-naive: only nodes whose layer ROSE last round can raise a
    # successor's layer, so each round joins edges against the (shrinking)
    # frontier instead of the full layer table
    def step(state):
        layers, frontier = state
        prop = (ec.join(frontier.withColumnRenamed("id", "u"), "u")
                .groupBy(F.col("v").alias("id"))
                .agg((F.max("layer") + 1).alias("_cand")))
        new = _checkpoint(
            layers.join(prop, "id", "left")
            .select("id", F.greatest("layer", F.coalesce("_cand", F.lit(0)))
                    .alias("layer")))
        frontier = _checkpoint(_changed(new, layers, ["id"])
                               .select("id", "layer"))
        return (new, frontier), frontier.isEmpty()

    nodes = (ec.select(F.col("u").alias("id"))
             .unionByName(ec.select(F.col("v").alias("id")))
             .distinct())
    layers = _checkpoint(nodes.withColumn("layer", F.lit(0)))
    return _fixpoint(
        (layers, layers), step, max_rounds, "dag_layers",
        ": either the graph has a cycle (run make_acyclic first) or its "
        "longest path exceeds the cap on an ACYCLIC graph")[0]


def dot_layout(edges: DataFrame, src: str = "src", dst: str = "dst",
               layer_gap: float = 100.0, node_gap: float = 80.0,
               sweeps: int = 4, max_layout_nodes: int = 100_000) -> DataFrame:
    """Sugiyama layout: (id, x, y, layer) with y = layer * layer_gap and
    barycenter-ordered, centered x positions.  Deterministic (ties break on
    node id).  Raises when the graph exceeds ``max_layout_nodes`` — layout
    is a presentation operator; induce a subgraph first."""
    layers_df = dag_layers(edges, src, dst)
    spark = edges.sparkSession
    rows = layers_df.limit(max_layout_nodes + 1).collect()
    if len(rows) > max_layout_nodes:
        raise ValueError(
            f"dot_layout is presentation-layer (> {max_layout_nodes} nodes); "
            "layout an induced subgraph instead")
    layer_of = {r.id: r.layer for r in rows}
    edge_rows = [(r[0], r[1]) for r in
                 edges.select(src, dst).distinct().collect()
                 if r[0] in layer_of and r[1] in layer_of]
    by_layer: dict[int, list] = {}
    for n, l in sorted(layer_of.items()):
        by_layer.setdefault(l, []).append(n)

    preds: dict = {}
    succs: dict = {}
    for u, v in edge_rows:
        preds.setdefault(v, []).append(u)
        succs.setdefault(u, []).append(v)

    pos = {l: {n: i for i, n in enumerate(ns)} for l, ns in by_layer.items()}
    levels = sorted(by_layer)

    def sweep(level_order, nbrs):
        for l in level_order:
            ns = by_layer[l]
            bary = {}
            for n in ns:
                ref = [pos[layer_of[m]][m] for m in nbrs.get(n, [])
                       if layer_of[m] != l]
                bary[n] = (sum(ref) / len(ref)) if ref else pos[l][n]
            ns.sort(key=lambda n: (bary[n], str(n)))
            pos[l] = {n: i for i, n in enumerate(ns)}

    for _ in range(sweeps):
        sweep(levels[1:], preds)            # top-down: order by predecessors
        sweep(list(reversed(levels[:-1])), succs)   # bottom-up

    width = {l: len(ns) for l, ns in by_layer.items()}
    max_w = max(width.values()) if width else 1
    out = []
    for l, ns in by_layer.items():
        offset = (max_w - len(ns)) / 2.0
        for n in ns:
            out.append((n, (pos[l][n] + offset) * node_gap,
                        float(l) * layer_gap, l))
    t = layers_df.schema["id"].dataType.simpleString()
    return spark.createDataFrame(
        sorted(out), f"id {t}, x double, y double, layer int")
