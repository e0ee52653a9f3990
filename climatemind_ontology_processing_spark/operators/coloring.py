"""Distributed greedy graph coloring (Jones & Plassmann 1993).

Not in the reference (tiny curated graphs need no scheduling); at web
scale a proper coloring partitions the KG into conflict-free waves —
concurrent entity-resolution batches, crawl politeness groups, lock-free
bulk updates of adjacent-entity state.

Jones-Plassmann with STATIC deterministic hash priorities (md5_60 of the
node id — DuckDB-replayable, retry-stable per the repo's seeded-
randomness invariant): in each round, every still-uncolored node whose
(priority, id) beats all uncolored neighbors picks the minimum excluded
color (mex) of its already-colored neighborhood.  Selected nodes are
never adjacent (the priority order is total among uncolored neighbors),
so all mex computations in a round commute — that is the whole point of
the algorithm and why it parallelizes.

Round cost: one semi-join of the symmetric adjacency against the
uncolored set + one min-struct aggregate (winner election) + one
collect_set over colored neighbors (mex input) — keys-only shuffles, no
node payload.  Round count is the length of the longest
priority-decreasing path, O(log V / log log V) expected for random
priorities on bounded-degree graphs (Jones & Plassmann); the cap RAISES
on exhaustion (truncated fixpoints never return silently).

The greedy bound colors <= max_degree + 1 holds by construction; the
validity invariant (no monochromatic edge) is pinned in tests.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graphstats import undirected_canonical
from .traversal import _checkpoint, _fixpoint


def jp_coloring(edges: DataFrame, src: str = "src", dst: str = "dst",
                seed: str = "color", max_rounds: int = 60) -> DataFrame:
    """Proper vertex coloring: (id, color, jp_round) for every node with
    at least one edge; ``color`` is the 0-based greedy mex, ``jp_round``
    the round the node was selected (1-based)."""
    e = undirected_canonical(edges, src, dst)
    sym = _checkpoint(
        e.select(F.col("lo").alias("id"), F.col("hi").alias("nbr"))
        .unionByName(e.select(F.col("hi").alias("id"),
                              F.col("lo").alias("nbr"))))
    pri_col = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.lit(seed), F.col("id").cast("string"))), 1, 15), 16, 10) \
        .cast("long")
    pri = _checkpoint(sym.select("id").distinct()
                      .select("id", pri_col.alias("h")))

    def step(state):
        r, uncolored, colored = state
        r += 1
        upri = pri.join(uncolored, "id", "left_semi")
        live_sym = (sym.join(uncolored, "id", "left_semi")
                    .join(uncolored.withColumnRenamed("id", "nbr"), "nbr",
                          "left_semi"))
        nbr_best = (live_sym
                    .join(upri.select(F.col("id").alias("nbr"),
                                      F.col("h").alias("nh")), "nbr")
                    .groupBy("id")
                    .agg(F.min(F.struct(F.col("nh"), F.col("nbr")))
                         .alias("_b")))
        winners = _checkpoint(
            upri.join(nbr_best, "id", "left")
            .filter(F.col("_b").isNull()
                    | (F.struct(F.col("h"), F.col("id")) < F.col("_b")))
            .select("id"))
        if colored is None:
            taken = winners.select(
                "id", F.array().cast("array<long>").alias("cols"))
        else:
            taken = (sym.join(winners, "id", "left_semi")
                     .join(colored.select(F.col("id").alias("nbr"),
                                          F.col("color")), "nbr")
                     .groupBy("id")
                     .agg(F.collect_set("color").alias("cols")))
            taken = (winners.join(taken, "id", "left")
                     .select("id", F.coalesce(
                         "cols", F.array().cast("array<long>"))
                         .alias("cols")))
        mex = F.array_min(F.filter(
            F.sequence(F.lit(0).cast("long"),
                       F.size("cols").cast("long") + F.lit(1)),
            lambda x: ~F.array_contains(F.col("cols"), x)))
        assigned = taken.select("id", mex.alias("color"),
                                F.lit(r).alias("jp_round"))
        # one checkpoint per round on the accumulator (assigned folds into
        # it; a separate checkpoint would just double the actions)
        colored = _checkpoint(assigned if colored is None
                              else colored.unionByName(assigned))
        uncolored = _checkpoint(uncolored.join(winners, "id", "left_anti"))
        return (r, uncolored, colored), uncolored.isEmpty()

    uncolored = _checkpoint(pri.select("id"))
    return _fixpoint((0, uncolored, None), step, max_rounds, "jp_coloring")[2]
