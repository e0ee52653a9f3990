"""G6 — rule-based cycle cutting (``make_graph_class.make_acyclic``, :395-431).

Remove ``causes_or_promotes`` edges whose source node has direct class
"feedback loop" and whose target has direct class "increase in atmospheric
greenhouse gas" or "root cause linked to humans".  No cycle detection needed —
the rule is declarative, so in Spark it is a pure filter built from two
broadcast class-lookup joins and an anti-join removal (SURVEY §2.7 G6).

The result is the engine's graph ``B``; the pre-cut graph ``G`` stays around
because later passes query both (``make_graph_class.py:516`` uses B,
``:533-540`` uses G — the G/B split is load-bearing, SURVEY §7).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CAUSES, CUT_TARGET_CLASSES, FEEDBACK_LOOP_CLASS


def feedback_edges(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """The edges the rule removes: (src, dst) pairs."""
    classes = nodes.select(F.col("label").alias("_n"),
                           F.col("direct_classes").alias("_dc"))
    src_fb = classes.filter(F.array_contains("_dc", FEEDBACK_LOOP_CLASS)) \
                    .select(F.col("_n").alias("src"))
    tgt = classes.filter(
        F.array_contains("_dc", CUT_TARGET_CLASSES[0]) |
        F.array_contains("_dc", CUT_TARGET_CLASSES[1])
    ).select(F.col("_n").alias("dst"))
    return (edges.filter(F.col("type") == CAUSES)
            .join(F.broadcast(src_fb), "src", "left_semi")
            .join(F.broadcast(tgt), "dst", "left_semi")
            .select("src", "dst"))


def make_acyclic(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Edges of graph B = edges minus the feedback-loop cut set."""
    cut = feedback_edges(edges, nodes).withColumn("type", F.lit(CAUSES))
    return edges.join(F.broadcast(cut), ["src", "dst", "type"], "left_anti")


def make_acyclic_local(edge_rows: list, classes_by_label: dict) -> list:
    """Driver twin of :func:`make_acyclic` (``make_graph_class.py:395-431``)
    over (src, dst, type, ...) rows and ``{label: direct_classes}``."""
    def has(label, classes):
        return not set(classes).isdisjoint(classes_by_label.get(label) or ())

    return [e for e in edge_rows
            if not (e[2] == CAUSES and has(e[0], [FEEDBACK_LOOP_CLASS])
                    and has(e[1], CUT_TARGET_CLASSES))]


def residual_cycle_pairs(edges_b: DataFrame) -> DataFrame:
    """Nodes still on a directed cycle after the rule-based cut.

    The G5 reachability-product rewrite (operators/adaptation.py) is
    equivalent to ``nx.all_simple_paths`` ONLY on a DAG, and ``make_acyclic``
    is a declarative rule, not a cycle detector — web-extracted triples can
    contain residual cycles (A causes B, B causes A).  This validator makes
    the DAG precondition checkable: returns (u, v) pairs with u < v where both
    reach(u, v) and reach(v, u) hold, i.e. u and v share a cycle.  Empty ⇒ B
    is a DAG and the G5 rewrite is exact.  Callers quarantine or fail when
    non-empty (tests/test_graph_parity.py pins emptiness on the golden graph).

    Self-loops are cycles too and are reported as (u, u) — the reflexive
    closure can't distinguish them, so they come straight from the edge list.
    """
    from .traversal import transitive_closure

    self_loops = (edges_b.filter(F.col("src") == F.col("dst"))
                  .select(F.col("src").alias("u"), F.col("dst").alias("v"))
                  .distinct())
    closure = transitive_closure(edges_b)  # reflexive
    fwd = closure.filter(F.col("src") < F.col("dst"))
    rev = closure.filter(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"))
    two_cycles = fwd.join(rev, ["src", "dst"], "left_semi") \
                    .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return two_cycles.unionByName(self_loops)
