"""X3 — DAG layering (the first step of the reference's graphviz-dot layout).

The reference lays out its processed graph with graphviz ``dot``
(``visualize.py:307`` — ``nx.nx_pydot.graphviz_layout(G, prog="dot")``).
``dot`` implements Sugiyama layered drawing (Sugiyama, Tagawa & Toda 1981),
whose first step is the one that touches the full graph:

**layering** — ``dag_layers``: layer(v) = longest path length from any
root.  Size-adaptive like the traversals: driver-side DP on small graphs,
semi-naive max-propagation joins above ``SMALL_GRAPH_THRESHOLD`` (one
keys-only shuffle per DAG level, same shape as ``bfs_reachable``).

Output: one row per node, ``(id, layer int)``.
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

