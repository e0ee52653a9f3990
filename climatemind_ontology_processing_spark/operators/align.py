"""Cross-KG entity alignment (sameAs candidates) via shared-fact evidence.

The reference has one hand-curated ontology, so identity is trivial; a
web-built KG must be ALIGNED — to an existing ontology (the reference's
concept nodes) or to yesterday's snapshot — before canonicalization can
merge aliases.  The workhorse signal (PARIS, Suchanek et al. VLDB 2012)
is shared (predicate, object) facts weighted by how identifying they
are: two subjects that both bear a fact only few subjects bear are
likely the same entity.

This implements the additive integer-evidence variant: per shared
(pred, obj) fact the pair earns ``1e6 div n_holders(pred, obj)`` micros
(n_holders = distinct subjects carrying that exact fact across BOTH
KGs), summed per candidate pair.  Exact PARIS multiplies probabilities;
the additive form keeps every number a BIGINT so the DuckDB oracle
replays it exactly, and ranks identically in the high-signal regime.

Plan shape — the blocking IS the join: candidates exist only where the
two KGs share a (pred, obj) key, so the shuffle is keyed on facts, never
on entity pairs.  A hub object (everyone "lives_in" the same country)
would emit holders² pairs — ``max_holders`` drops those keys BEFORE the
join (they carry the least evidence and all the cost; the LSH-megabucket
cap of this problem).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .traversal import _checkpoint

MICRO = 1_000_000


def _facts(df: DataFrame, s: str, p: str, o: str) -> DataFrame:
    return (df.select(F.col(s).alias("subj"), F.col(p).alias("pred"),
                      F.col(o).alias("obj")).distinct())


def align_entities(left: DataFrame, right: DataFrame,
                   max_holders: int = 1000, top_k: int | None = None,
                   min_shared: int = 1, subj: str = "subj",
                   pred: str = "pred", obj: str = "obj") -> DataFrame:
    """sameAs candidates (x from ``left``, y from ``right``): (x, y,
    n_shared, score_micro, rank) with rank 1 = best y per x (ties
    y-ascending).  Assumes the two KGs share predicate and object
    vocabularies (normalize literals / canonicalize object ids first);
    subjects are the things being aligned.

    ``max_holders`` drops (pred, obj) keys held by more subjects than
    this across both KGs — a cost AND precision guard; ``min_shared``
    drops pairs on a single shared fact (the web-scale noise floor).
    """
    if max_holders < 2:
        # a shared fact needs at least one holder on each side
        raise ValueError(f"max_holders must be >= 2, got {max_holders}")
    # each side feeds TWO arms (the holders census and the candidate
    # join); materialize once so a multi-join upstream fact plan is not
    # re-executed per arm (same reuse-counting as rules.mine_chain_rules)
    l = _checkpoint(_facts(left, subj, pred, obj))
    r = _checkpoint(_facts(right, subj, pred, obj))
    weights = (l.unionByName(r)
               .groupBy("pred", "obj")
               .agg(F.countDistinct("subj").cast("long").alias("_nh"))
               .filter(F.col("_nh") <= F.lit(int(max_holders)))
               .select("pred", "obj",
                       F.expr(f"{MICRO} div _nh").cast("long")
                       .alias("_w")))
    cand = (l.join(weights, ["pred", "obj"])
            .join(r.select(F.col("subj").alias("_y"), "pred", "obj"),
                  ["pred", "obj"])
            .groupBy(F.col("subj").alias("x"), F.col("_y").alias("y"))
            .agg(F.count("*").cast("long").alias("n_shared"),
                 F.sum("_w").cast("long").alias("score_micro"))
            .filter(F.col("n_shared") >= F.lit(int(min_shared))))
    w = Window.partitionBy("x").orderBy(F.col("score_micro").desc(),
                                        F.col("y").asc())
    out = cand.withColumn("rank", F.row_number().over(w))
    if top_k is not None:
        out = out.filter(F.col("rank") <= int(top_k))
    return out
