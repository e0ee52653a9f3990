"""Seeded entity-type inference over the KG (label spreading).

The reference gets node classes for free from the OWL hierarchy
(``sources/owl_reader.py`` ancestors); a web-extracted KG has types for
only the few entities that matched a curated dictionary.  The standard
fill-in is semi-supervised label propagation with clamped seeds (Zhu &
Ghahramani 2002): each round every node absorbs its neighbors' type
distributions, normalizes, and the seed nodes snap back to their known
type — after k rounds untyped nodes within k hops of a seed carry a
type posterior.

Distinct from ``graphstats.label_propagation`` (unsupervised modal-label
communities): here labels come from a SEED TABLE, nodes hold full
per-type distributions, and seeds are clamped every round.

All mass arithmetic is integer micros (floor-normalized per node), so a
DuckDB oracle replays the fixpoint bit-for-bit.  One round = one join of
the symmetric edge list against the (id, type, score) state + two
keys-only aggregations; state is O(V · types-within-reach) rows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .traversal import _checkpoint

MICRO = 1_000_000


def spread_types(edges: DataFrame, seeds: DataFrame, rounds: int = 2,
                 src: str = "src", dst: str = "dst", id_col: str = "id",
                 type_col: str = "type") -> DataFrame:
    """Type posteriors after ``rounds`` of clamped label spreading.

    seeds: (id, type) — one row per seeded node (a node seeded twice
    raises at execution; conflicting ground truth must be resolved
    upstream, e.g. by ``fusion.fuse_claims``).  Returns (id, type,
    score_micro) for every node carrying mass — seeds report exactly
    (their type, MICRO).

    Round algebra: gathered(v, T) = Σ over und-neighbors w of
    score(w, T); normalized per v to micros (floor); then seed rows are
    replaced by their clamped distribution.  Nodes whose neighbors carry
    no mass yet keep no rows (absent ≠ zero — they simply have no
    posterior).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
         .filter(F.col("a") != F.col("b")).distinct())
    sym = _checkpoint(e.select(F.col("a").alias("id"), F.col("b").alias("nbr"))
                      .unionByName(e.select(F.col("b").alias("id"),
                                            F.col("a").alias("nbr")))
                      .distinct())

    dup = F.when(
        F.count("*").over(Window.partitionBy(id_col)) > 1,
        F.raise_error(F.concat(F.lit("spread_types: node seeded twice: "),
                               F.col(id_col).cast("string"))))
    clamped = _checkpoint(seeds.select(F.col(id_col).alias("id"),
                                       F.col(type_col).alias("type"),
                                       F.coalesce(dup.cast("long"),
                                                  F.lit(MICRO).cast("long"))
                                       .alias("score_micro")))
    state = clamped
    for _ in range(rounds):
        gathered = (sym.join(state.withColumnRenamed("id", "nbr"), "nbr")
                    .groupBy("id", "type")
                    .agg(F.sum("score_micro").cast("long").alias("_g")))
        tot = (gathered.groupBy("id")
               .agg(F.sum("_g").cast("long").alias("_tot")))
        normalized = (gathered.join(tot, "id")
                      .select("id", "type",
                              F.expr(f"(_g * {MICRO}) div _tot")
                              .cast("long").alias("score_micro")))
        state = _checkpoint(
            normalized.join(clamped.select("id"), "id", "left_anti")
            .unionByName(clamped))
    return state


def assign_types(edges: DataFrame, seeds: DataFrame, rounds: int = 2,
                 src: str = "src", dst: str = "dst", id_col: str = "id",
                 type_col: str = "type") -> DataFrame:
    """Hard assignment on top of ``spread_types``: per node the argmax
    type (ties type-ascending) — (id, type, score_micro, is_seed)."""
    state = spread_types(edges, seeds, rounds, src, dst, id_col, type_col)
    w = Window.partitionBy("id").orderBy(F.col("score_micro").desc(),
                                         F.col("type").asc())
    best = (state.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))
    seed_ids = seeds.select(F.col(id_col).alias("id"),
                            F.lit(1).alias("is_seed"))
    return (best.join(seed_ids, "id", "left")
            .select("id", "type", "score_micro",
                    F.coalesce("is_seed", F.lit(0)).cast("int")
                    .alias("is_seed")))
